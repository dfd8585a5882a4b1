package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded reaction-simulation input generator.
  *
  * Writes the pipeline's reference-shaped inputs (FIXTURES.md §1, in the
  * formats of the test suite's `TestFixtures.writeCsv`/`writeMetadata`):
  * `incoming/<day>/rxndata_<uuid36>.csv` and `metadata_<uuid36>.json`.
  * Files are grouped by the arrival (one pipeline run) that delivers them:
  * `<out>/arrivals/<k>/incoming/<day>/...`. A `manifest.json` next to
  * them records the expected outcome of every file.
  *
  * Every value is a fixed-point decimal written from an integer count of
  * micro-units, so the per-day column checksums in the manifest (sums of
  * micro-units) are exact and can be compared with what the warehouse
  * holds. The same seed and spec give byte-identical trees.
  */
object Gen {

  val CsvHeader: Seq[String] = Seq("Unnamed: 0", "SimulationID",
    "CA (mol/m^3)", "CB (mol/m^3)", "CC (mol/m^3)", "CD (mol/m^3)",
    "T (K)", "Tsensor (K)", "t (sec)")
  /** Warehouse names of the seven measured columns, in CSV order. */
  val FactCols: Seq[String] =
    Seq("ca", "cb", "cc", "cd", "temperature", "t_sensor", "rxn_time")

  val Ok = "ok"
  val MissingColumn = "missing_column"
  val IdMismatch = "id_mismatch"

  /** Shape of one generated tree. A share plants that defect in a fixed
    * number of simulations (at least one when the share is positive),
    * chosen by the seed, so every tree of a spec does the same work. */
  case class Spec(days: Int, simsPerDay: Int, rowsPerSim: Int,
      noArtifactShare: Double = 0.0, missingColumnShare: Double = 0.0,
      idMismatchShare: Double = 0.0, lateMetaShare: Double = 0.0,
      maxLateDays: Int = 0, oneArrival: Boolean = false)

  /** One simulation: its CSV lands with arrival `arrival`, its metadata
    * with arrival `metaArrival` (later when the metadata is late). */
  case class Sim(id: String, day: String, arrival: Int, metaArrival: Int,
      rows: Int, outcome: String, artifact: Boolean, csvBytes: Long,
      metaBytes: Long)

  /** What a tree holds: per-sim facts plus, per day, the column checksums
    * (micro-unit sums) of the rows that must reach the warehouse. */
  case class Tree(spec: Spec, sims: IndexedSeq[Sim],
      dayChecksums: Map[String, IndexedSeq[Long]], arrivals: Int) {
    def good: IndexedSeq[Sim] = sims.filter(_.outcome == Ok)
    def quarantined: IndexedSeq[Sim] = sims.filter(_.outcome != Ok)
    def inputBytes: Long = sims.map(s => s.csvBytes + s.metaBytes).sum
    def factRows: Long = good.map(_.rows.toLong).sum
    /** Rows ingested before their metadata arrived: backfill's work. */
    def lateRows: Long =
      good.filter(s => s.metaArrival > s.arrival).map(_.rows.toLong).sum
  }

  private val FirstDay = LocalDate.of(2024, 3, 1)

  private def uuid(r: SplittableRandom): String = {
    val hi = r.nextLong(); val lo = r.nextLong()
    val h = f"$hi%016x$lo%016x"
    // RFC 4122 version-4 shape, so the id matches the pipeline's regex
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-4${h.substring(13, 16)}-" +
      s"a${h.substring(17, 20)}-${h.substring(20, 32)}"
  }

  /** Append `micros / 1e6` as a fixed six-decimal number. */
  private def appendMicros(sb: java.lang.StringBuilder, micros: Long): Unit = {
    val v = if (micros < 0) { sb.append('-'); -micros } else micros
    sb.append(v / 1000000L).append('.')
    val frac = (v % 1000000L).toString
    var pad = 6 - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac)
  }

  private def micros(x: Double): Long = math.round(x * 1e6)

  /** Writes one CSV; adds its rows' micro-unit sums into `sums` (per
    * measured column) when the file is expected to reach the warehouse. */
  private def writeCsv(file: Path, sim: Sim, seedOfSim: Long,
      inFileId: String, dropCol: Option[String],
      sums: Array[Long]): Long = {
    val r = new SplittableRandom(seedOfSim)
    val ca0 = 1.0 + r.nextDouble() * 4.0
    val cb0 = ca0 + r.nextDouble() * 2.0
    val t0 = 290.0 + r.nextDouble() * 60.0
    val k = 0.0005 + r.nextDouble() * 0.005
    val dt = 0.5
    val cols = CsvHeader.filter(c => dropCol.forall(_ != c) &&
      (sim.artifact || c != CsvHeader.head))
    val sb = new java.lang.StringBuilder(64 + sim.rows * 96)
    sb.append(cols.mkString(","))
    val keep = FactCols.indices.map(i => cols.contains(CsvHeader(i + 2)))
    val row = new Array[Long](7)
    var i = 0
    while (i < sim.rows) {
      val t = i * dt
      val ca = ca0 * math.exp(-k * t)
      val temp = t0 + 5.0 * math.sin(t / 50.0)
      row(0) = micros(ca)
      row(1) = micros(cb0 - (ca0 - ca))
      row(2) = micros(ca0 - ca)
      row(3) = micros((ca0 - ca) * 0.5)
      row(4) = micros(temp)
      row(5) = micros(temp + (r.nextDouble() - 0.5) * 0.2)
      row(6) = micros(t)
      sb.append('\n')
      if (sim.artifact) sb.append(i).append(',')
      sb.append(inFileId)
      var c = 0
      while (c < 7) {
        if (keep(c)) { sb.append(','); appendMicros(sb, row(c)) }
        if (sim.outcome == Ok) sums(c) += row(c)
        c += 1
      }
      i += 1
    }
    val bytes = sb.toString.getBytes(UTF_8)
    Files.write(file, bytes)
    bytes.length.toLong
  }

  private def writeMeta(file: Path, sim: Sim, n: Int,
      seedOfSim: Long): Long = {
    val r = new SplittableRandom(seedOfSim ^ 0x5DEECE66DL)
    val sb = new java.lang.StringBuilder(320)
    def num(x: Double): String = {
      val b = new java.lang.StringBuilder(); appendMicros(b, micros(x)); b.toString
    }
    sb.append("{\"simulation_id\": \"").append(sim.id).append("\",\n")
      .append("\"reaction_name\": \"rxn_").append(n).append("\",\n")
      .append("\"activation_energy (J/mol)\": ")
      .append(num(40000.0 + r.nextDouble() * 20000.0)).append(",\n")
      .append("\"CA0_(mol/m^3)\": ").append(num(1.0 + r.nextDouble() * 4.0))
      .append(",\n")
      .append("\"CB0_(mol/m^3)\": ").append(num(2.0 + r.nextDouble() * 4.0))
      .append(",\n")
      .append("\"T0_(K)\": ").append(num(290.0 + r.nextDouble() * 60.0))
      .append(",\n")
      .append("\"date_run\": \"").append(sim.day).append("\",\n")
      .append("\"stop_reason\": \"")
      .append(if (r.nextInt(4) == 0) "max_time" else "converged")
      .append("\",\n")
      .append("\"stop_time_(s)\": ").append(num(sim.rows * 0.5)).append("}")
    val bytes = sb.toString.getBytes(UTF_8)
    Files.write(file, bytes)
    bytes.length.toLong
  }

  def arrivalDir(out: Path, k: Int): Path = out.resolve(s"arrivals/$k")

  /** Generate the tree for `spec` from `seed` under `out` (which must not
    * exist yet) and write its manifest. */
  def generate(out: Path, seed: Long, spec: Spec): Tree = {
    val r = new SplittableRandom(seed)
    val total = spec.days * spec.simsPerDay
    def count(share: Double, of: Int) =
      if (share <= 0 || of == 0) 0 else math.min(of, math.max(1, math.round(share * of).toInt))
    def shuffled(xs: IndexedSeq[Int]) = {
      val a = xs.toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toIndexedSeq
    }
    val order = shuffled(0 until total)
    val nMissing = count(spec.missingColumnShare, total)
    val outcomes = order.zipWithIndex.map { case (sim, rank) =>
      sim -> (if (rank < nMissing) MissingColumn
        else if (rank < nMissing + count(spec.idMismatchShare, total)) IdMismatch
        else Ok)
    }.toMap
    // metadata can be late only when a later run exists to deliver it
    val canBeLate = if (spec.maxLateDays > 0 && !spec.oneArrival)
      (0 until total).filter(_ / spec.simsPerDay + 1 < spec.days) else IndexedSeq.empty
    val late = shuffled(canBeLate).take(count(spec.lateMetaShare, canBeLate.size)).toSet
    val sums = scala.collection.mutable.LinkedHashMap.empty[String, Array[Long]]
    val sims = IndexedSeq.newBuilder[Sim]
    var n = 0
    for (d <- 0 until spec.days) {
      val day = FirstDay.plusDays(d.toLong).toString
      val daySums = sums.getOrElseUpdate(day, new Array[Long](7))
      for (_ <- 0 until spec.simsPerDay) {
        val simSeed = r.nextLong()
        val id = uuid(r)
        val outcome = outcomes(n)
        val arrival = if (spec.oneArrival) 0 else d
        val metaArrival =
          if (!late(n)) arrival
          else math.min(spec.days - 1, d + 1 + r.nextInt(spec.maxLateDays))
        val rows = math.max(1,
          spec.rowsPerSim + r.nextInt(spec.rowsPerSim / 5 + 1) - spec.rowsPerSim / 10)
        val artifact = r.nextDouble() >= spec.noArtifactShare
        val dropCol = if (outcome == MissingColumn)
          Some(CsvHeader(2 + r.nextInt(7))) else None
        val inFileId = if (outcome == IdMismatch) uuid(r) else id
        val proto = Sim(id, day, arrival, metaArrival, rows, outcome,
          artifact, 0L, 0L)
        val csvDir = arrivalDir(out, arrival).resolve(s"incoming/$day")
        val metaDir = arrivalDir(out, metaArrival)
          .resolve(s"incoming/${FirstDay.plusDays(
            if (spec.oneArrival) d.toLong else metaArrival.toLong)}")
        Files.createDirectories(csvDir)
        Files.createDirectories(metaDir)
        val csvBytes = writeCsv(csvDir.resolve(s"rxndata_$id.csv"), proto,
          simSeed, inFileId, dropCol, daySums)
        val metaBytes = writeMeta(metaDir.resolve(s"metadata_$id.json"),
          proto, n, simSeed)
        sims += proto.copy(csvBytes = csvBytes, metaBytes = metaBytes)
        n += 1
      }
    }
    val tree = Tree(spec, sims.result(),
      sums.map { case (d, a) => d -> a.toIndexedSeq }.toMap,
      if (spec.oneArrival) 1 else spec.days)
    Files.writeString(out.resolve("manifest.json"), manifest(seed, tree))
    tree
  }

  private def manifest(seed: Long, t: Tree): String = {
    val simsJson = t.sims.map { s =>
      s"""    {"id": "${s.id}", "day": "${s.day}", "arrival": ${s.arrival}, "meta_arrival": ${s.metaArrival}, "rows": ${s.rows}, "outcome": "${s.outcome}", "index_column": ${s.artifact}, "csv_bytes": ${s.csvBytes}, "meta_bytes": ${s.metaBytes}}"""
    }.mkString(",\n")
    val sumsJson = t.dayChecksums.toSeq.sortBy(_._1).map { case (d, a) =>
      s"""    "$d": {${FactCols.zip(a).map { case (c, v) => s""""$c": $v""" }.mkString(", ")}}"""
    }.mkString(",\n")
    s"""{
  "seed": $seed,
  "arrivals": ${t.arrivals},
  "input_bytes": ${t.inputBytes},
  "fact_rows": ${t.factRows},
  "late_rows": ${t.lateRows},
  "quarantined": [${t.quarantined.map(s => "\"" + s.id + "\"").mkString(", ")}],
  "late_metadata": [${t.sims.filter(s => s.metaArrival > s.arrival).map(s => "\"" + s.id + "\"").mkString(", ")}],
  "day_checksums_micros": {
$sumsJson
  },
  "sims": [
$simsJson
  ]
}
"""
  }
}
