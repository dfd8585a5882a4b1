package perfbench

/** Checks of the rules the result line depends on: the statistics, the
  * trace's interval and call-site handling, and metric naming. */
object SelfTest {

  def run(): Boolean = {
    val checks = Seq(
      "median odd" -> (Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0),
      "median even" -> (Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5),
      "tail n=100 is p90 with 10 beyond" ->
        (Stats.tail((1 to 100).map(_.toDouble)) == Stats.Tail(90.0, 90.0, 100)),
      "tail n=25 is p60" ->
        (Stats.tail((1 to 25).reverse.map(_.toDouble)) == Stats.Tail(15.0, 60.0, 25)),
      "tail n=11 keeps 10 beyond" ->
        (Stats.tail((1 to 11).map(_.toDouble)).value == 1.0),
      "tail n<=10 is the max at p100" ->
        (Stats.tail(Seq(2.0, 9.0, 4.0)) == Stats.Tail(9.0, 100.0, 3)),
      "union of intervals" ->
        (Trace.unionMs(Seq((20L, 30L), (0L, 10L), (5L, 15L), (12L, 14L))) == 25L),
      "call-site frames drop lines" ->
        (Trace.frames("org.apache.spark.sql.Dataset.collect(Dataset.scala:9)\n" +
          "app//graft.ops.Ledger$.append(Ledger.scala:57)") ==
          Seq("org.apache.spark.sql.Dataset.collect", "graft.ops.Ledger$.append")),
      "layers of frames" ->
        (Seq("graft.ext.Dedup$.pairs", "graft.functions.Hll$.merge",
          "graft.SessionMemo$.apply", "graft.queries.Relational$.q01",
          "graft.streaming.X$.y").map(Trace.moduleOf) ==
          Seq("ext", "ext", "memo", "queries", "other")),
      "metric names valid" ->
        (Metrics.EndToEnd ++ Metrics.PerLayer).forall(m => Stats.validName(m._1)),
      "metric names unique" -> {
        val all = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
        all.distinct.size == all.size
      },
      "invalid names rejected" ->
        Seq("bad name", "_lead", "a" * 65, "x/y", "").forall(!Stats.validName(_)),
      "setup_s is end-to-end" -> Metrics.EndToEnd.contains("setup_s" -> "s")
    )
    checks.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    checks.forall(_._2)
  }
}
