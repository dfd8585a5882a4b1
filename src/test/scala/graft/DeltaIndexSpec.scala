package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The `batch_id` sink recipe (delete the batch's partition, overwrite
  * only it, read under the refuse-foreign-state contract, compact into
  * `batch_id=-1`) lives in `streaming/DeltaIndex.scala` alone: a second
  * copy is how the readers drifted apart before. */
class DeltaIndexSpec extends AnyFunSuite {

  /** The streaming modules other than DeltaIndex whose source holds any
    * of `marks`. */
  private def copiesOf(marks: String*): Seq[String] = {
    val dir = Paths.get("src/main/scala/graft/streaming")
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "DeltaIndex.scala"))
    files
      .filterNot(_.getFileName.toString == "DeltaIndex.scala")
      .filter { f =>
        val src = Files.readString(f)
        marks.exists(src.contains)
      }
      .map(_.getFileName.toString).sorted
  }

  test("no streaming module other than DeltaIndex builds a batch_id= " +
      "partition path or an empty index frame of its own") {
    val copies = copiesOf("batch_id=$", "emptyRDD[")
    assert(copies.isEmpty,
      s"${copies.mkString(", ")} carry their own copy of the " +
        "DeltaIndex recipe")
  }

  test("no streaming module other than DeltaIndex ranks an index's rows " +
      "latest batch first") {
    val copies = copiesOf("col(\"batch_id\").desc")
    assert(copies.isEmpty,
      s"${copies.mkString(", ")} carry their own copy of the " +
        "latest-wins snapshot rule")
  }
}
