package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.{Clean, Enrich}
import graft.schema.Schemas

/** Property-based invariants (SURVEY.md §5.3) via raw ScalaCheck props
  * executed inside ScalaTest. */
class PropertySpec extends SparkSpecBase {

  private def check(prop: Prop, minTests: Int = 20): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  test("fingerprint64 eval equals the reference byte fold for arbitrary strings") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val viaExpr = graft.functions.Fingerprint64(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        .eval(null).asInstanceOf[Long]
      viaExpr == graft.functions.Fingerprint64.hashBytes(s.getBytes("UTF-8"))
    }, minTests = 100)
  }

  test("shape reports exactly the dropped required columns") {
    // the reference's header, pandas index artifact included
    val header = "Unnamed: 0" +: Schemas.columnMap.keys.toSeq
    check(Prop.forAll(Gen.someOf(Schemas.requiredCols)) { dropped =>
      val kept = header.filterNot(c =>
        dropped.contains(Schemas.columnMap.getOrElse(c, c)))
      Clean.shape(kept.mkString(",")) match {
        case Left(missing) => missing.toSet == dropped.toSet
        case Right(pairs) => dropped.isEmpty &&
          pairs.map(_._1) == Schemas.requiredCols
      }
    })
  }

  test("enrichment is idempotent for arbitrary fact/dim states") {
    import spark.implicits._
    val genRows = for {
      n <- Gen.choose(1, 12)
      rows <- Gen.listOfN(n, for {
        sid <- Gen.oneOf("s1", "s2", "s3", "s4")
        num <- Gen.option(Gen.choose(1, 5))
      } yield (sid, num))
    } yield rows
    check(Prop.forAll(genRows) { rows =>
      val fact = rows.toDF("simulation_id", "simulation_num")
      val dim = Seq(("s1", 1), ("s3", 3)).toDF("simulation_id", "simulation_num")
      val once = Enrich.enrichFact(fact, dim)
        .orderBy("simulation_id", "simulation_num").collect().toSeq
      val twice = Enrich.enrichFact(Enrich.enrichFact(fact, dim), dim)
        .orderBy("simulation_id", "simulation_num").collect().toSeq
      once == twice
    }, minTests = 10)
  }

  test("ngram jaccard pairs are invariant under row order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),
      (3L, "q w e r t y u i"),
      (4L, "q w e r t y u i"),
      (5L, "z z z y y y x x")
    ).toDF("doc_id", "text")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      graft.ext.Dedup.ngramJaccardPairsOf(
        graft.ext.Dedup.shingleHashDfOf(d), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = pairs(docs)
    assert(expect.contains((3L, 4L))) // identical docs must pair
    check(Prop.forAll(Gen.choose(0L, 1000L)) { seed =>
      pairs(docs.orderBy(pmod(xxhash64(col("doc_id"), lit(seed)), lit(5)))) == expect
    }, minTests = 5)
  }

  test("DetLn.lnFix tracks a 30-digit BigDecimal ln within 1e-13 for " +
      "arbitrary positive longs") {
    // independent high-precision reference: ln via BigDecimal atanh
    // series with enough terms for 30 significant digits
    import java.math.{BigDecimal => JBD, MathContext}
    val mc = new MathContext(40)
    def lnRef(x: Long): Double = {
      // range-reduce by the same decimal split, but in exact decimals:
      // ln(x) = ln(m) + e·ln(10), m in [1,10); then 8th root via three
      // high-precision Newton sqrts and the atanh series
      val d = x.toString.length
      val m = new JBD(x).divide(JBD.TEN.pow(d - 1), mc)
      def sqrt(v: JBD): JBD = {
        var g = new JBD(math.sqrt(v.doubleValue()), mc)
        (0 until 6).foreach { _ =>
          g = g.add(v.divide(g, mc), mc).divide(new JBD(2), mc)
        }
        g
      }
      val r = sqrt(sqrt(sqrt(m)))
      val t = r.subtract(JBD.ONE, mc).divide(r.add(JBD.ONE, mc), mc)
      var sum = JBD.ZERO
      var pow = t
      val t2 = t.multiply(t, mc)
      var k = 1
      while (k <= 39) { // t < 0.143: term 41 is < 1e-35
        sum = sum.add(pow.divide(new JBD(k), mc), mc)
        pow = pow.multiply(t2, mc)
        k += 2
      }
      16.0 * sum.doubleValue() + (d - 1) * 2.302585092994045684
    }
    check(Prop.forAll(Gen.choose(1L, Long.MaxValue)) { x =>
      val spark0 = spark
      import spark0.implicits._
      val got = graft.functions.DetLn
        .withLnFix(Seq(x).toDF("v"), "lnv", "v")
        .head().getAs[Double]("lnv")
      math.abs(got - lnRef(x)) < 1e-13
    }, minTests = 40)
  }

  test("image/audio decoders never throw on arbitrary bytes, including " +
      "magic-prefixed garbage") {
    val magics = Seq(
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte),
      "BM".getBytes, "P6\n".getBytes, "P5\n".getBytes,
      "RIFF1234WAVE".getBytes, Array.emptyByteArray)
    val gen = for {
      m <- Gen.oneOf(magics)
      tail <- Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield m ++ tail
    check(Prop.forAll(gen) { bytes =>
      // decode must return (possibly None) without throwing — this is
      // executor code over untrusted corpus payloads
      graft.ext.MediaCodecs.decodeImage(bytes)
      graft.ext.MediaCodecs.decodeWav(bytes)
      true
    }, minTests = 200)
  }
}
