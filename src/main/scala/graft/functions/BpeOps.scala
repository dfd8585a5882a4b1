package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst kernels for the BPE lifecycle ([[graft.ext.Bpe]]).
  *
  * Both expressions keep the per-row work inside whole-stage codegen by
  * calling a JVM kernel through a codegen object reference (the same
  * pattern as [[BloomMightContain]]): operands stay `UTF8String` /
  * `ArrayData` — no Encoder round-trip, no Scala-collection boxing of
  * the hot loop's symbols.
  */
object BpeOps {

  /** `merge_pair(syms, left, right)`: one BPE training step applied to a
    * symbol sequence — every adjacent `left, right` becomes the single
    * symbol `left+right` (left-to-right, non-overlapping). */
  def merge_pair(syms: Column, left: String, right: String): Column =
    ColumnBridge.column(
      MergePair(ColumnBridge.expression(syms), left, right))

  /** `bpe_encode(text, ranks)`: tokenize a document with a trained merge
    * list — whitespace words decompose to characters (+ the end-of-word
    * mark) and adjacent pairs merge in rank order until none apply.
    * Returns the document's subword tokens. */
  def bpe_encode(text: Column, ranks: Seq[(String, String)],
      endMark: String): Column =
    ColumnBridge.column(
      BpeEncode(ColumnBridge.expression(text), ranks, endMark))
}

/** Shared imperative kernels (driver + executor + generated code). */
object BpeKernel extends Serializable {

  def mergePair(a: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = a.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && a.getUTF8String(i) == l && a.getUTF8String(i + 1) == r) {
        out.add(UTF8String.concat(l, r))
        i += 2
      } else {
        out.add(a.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Greedy lowest-rank-first merging of one word's symbols — the
    * canonical BPE encode loop (Sennrich et al. 2016, alg. 1). */
  def encodeWord(word: UTF8String,
      rank: java.util.HashMap[Long, Integer],
      sym: java.util.HashMap[String, Integer],
      endMark: UTF8String, out: java.util.ArrayList[UTF8String]): Unit = {
    val chars = word.toString.toCharArray
    var syms = new java.util.ArrayList[UTF8String](chars.length + 1)
    chars.foreach(c => syms.add(UTF8String.fromString(c.toString)))
    syms.add(endMark)
    var done = false
    while (!done && syms.size > 1) {
      // find the best (lowest-rank) adjacent pair
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.size - 1) {
        val k = pairKey(syms.get(i), syms.get(i + 1), sym)
        if (k >= 0) {
          val rk = rank.get(k)
          if (rk != null && rk < bestRank) bestRank = rk
        }
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        // merge every occurrence of that pair, left to right
        val next = new java.util.ArrayList[UTF8String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j + 1 < syms.size && {
            val k = pairKey(syms.get(j), syms.get(j + 1), sym)
            k >= 0 && rank.get(k) != null && rank.get(k).intValue == bestRank
          }) {
            next.add(UTF8String.concat(syms.get(j), syms.get(j + 1)))
            j += 2
          } else {
            next.add(syms.get(j))
            j += 1
          }
        }
        syms = next
      }
    }
    out.addAll(syms)
  }

  /** Pairs are looked up via interned symbol ids packed in a long —
    * avoids allocating a tuple/string key per adjacent pair probe. */
  private def pairKey(a: UTF8String, b: UTF8String,
      sym: java.util.HashMap[String, Integer]): Long = {
    val ia = sym.get(a.toString)
    if (ia == null) return -1L
    val ib = sym.get(b.toString)
    if (ib == null) return -1L
    (ia.toLong << 32) | (ib.toLong & 0xffffffffL)
  }
}

/** Precompiled encode table: symbol interning + rank lookup built ONCE
  * on the driver and shipped as a codegen reference object.
  *
  * The encode loop runs entirely over INTERNED INT SYMBOL IDS: the
  * earlier form kept symbols as UTF8String and interned through
  * `sym.get(s.toString)` on every adjacent-pair probe — O(symbols ×
  * merge-rounds) fresh java.lang.String allocations per word, which
  * was the dominant per-task cost of q83/q184/q206's encode stage.
  * Here characters resolve to ids once, merge rounds
  * rewrite an int array in place, and output strings come from a
  * prebuilt id→UTF8String table — the only steady-state allocations
  * per word are the id array and the emitted token references. The
  * algorithm (greedy lowest-rank-first, leftmost non-overlapping —
  * Sennrich et al. 2016 alg. 1) and its outputs are unchanged;
  * characters outside the trained alphabet can never merge and pass
  * through verbatim via negative local ids. */
final class BpeTable(ranks: Seq[(String, String)], endMarkStr: String)
  extends Serializable {

  @transient private lazy val state = {
    val sym = new java.util.HashMap[String, Integer]()
    def intern(s: String): Int = {
      var id = sym.get(s)
      if (id == null) { id = sym.size; sym.put(s, id) }
      id
    }
    val rank = new java.util.HashMap[Long, Integer]()
    val merged = new java.util.HashMap[Long, Integer]()
    intern(endMarkStr)
    ranks.zipWithIndex.foreach { case ((l, r), i) =>
      val k = (intern(l).toLong << 32) | (intern(r).toLong & 0xffffffffL)
      // merged symbols become candidates for later merges
      merged.put(k, intern(l + r))
      rank.put(k, i)
    }
    // id → output string, and single-char symbol → id (the alphabet)
    val strs = new Array[UTF8String](sym.size)
    val charId = new java.util.HashMap[Character, Integer]()
    sym.forEach { (s, id) =>
      strs(id) = UTF8String.fromString(s)
      if (s.length == 1) charId.put(s.charAt(0), id)
    }
    (rank, merged, strs, charId, sym.get(endMarkStr).intValue)
  }
  private def rankMap = state._1
  private def mergedId = state._2
  private def symStr = state._3
  private def charId = state._4
  private def endMarkId = state._5

  /** One word: ids = trained-alphabet ids (≥ 0) or −(u+1) pointing
    * into `unknown` for out-of-alphabet characters (which never
    * merge). In-place lowest-rank-first merge, then emit. */
  private def encodeWord(word: String, from: Int, until: Int,
      out: java.util.ArrayList[UTF8String]): Unit = {
    val rank = rankMap
    var n = until - from + 1
    val ids = new Array[Int](n)
    var unknown: java.util.ArrayList[UTF8String] = null
    var i = 0
    while (i < n - 1) {
      val id = charId.get(word.charAt(from + i))
      if (id != null) ids(i) = id
      else {
        if (unknown == null) unknown = new java.util.ArrayList[UTF8String](2)
        unknown.add(UTF8String.fromString(String.valueOf(word.charAt(from + i))))
        ids(i) = -unknown.size
      }
      i += 1
    }
    ids(n - 1) = endMarkId
    var done = false
    while (!done && n > 1) {
      // find the best (lowest-rank) adjacent pair
      var bestRank = Int.MaxValue
      var j = 0
      while (j < n - 1) {
        if (ids(j) >= 0 && ids(j + 1) >= 0) {
          val k = (ids(j).toLong << 32) | (ids(j + 1).toLong & 0xffffffffL)
          val rk = rank.get(k)
          if (rk != null && rk.intValue < bestRank) bestRank = rk.intValue
        }
        j += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        // merge every occurrence of that pair, left to right, in place
        var w = 0
        var r = 0
        while (r < n) {
          if (r + 1 < n && ids(r) >= 0 && ids(r + 1) >= 0 && {
            val k = (ids(r).toLong << 32) | (ids(r + 1).toLong & 0xffffffffL)
            val rk = rank.get(k)
            rk != null && rk.intValue == bestRank
          }) {
            val k = (ids(r).toLong << 32) | (ids(r + 1).toLong & 0xffffffffL)
            ids(w) = mergedId.get(k).intValue
            r += 2
          } else {
            ids(w) = ids(r)
            r += 1
          }
          w += 1
        }
        n = w
      }
    }
    i = 0
    while (i < n) {
      out.add(if (ids(i) >= 0) symStr(ids(i)) else unknown.get(-ids(i) - 1))
      i += 1
    }
  }

  def encode(text: UTF8String): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    val s = text.toString
    var start = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) encodeWord(s, start, i, out)
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

case class MergePair(child: Expression, left: String, right: String)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"merge_pair requires array<string> symbols, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "merge_pair"

  private val l = UTF8String.fromString(left)
  private val r = UTF8String.fromString(right)

  override protected def nullSafeEval(a: Any): Any =
    BpeKernel.mergePair(a.asInstanceOf[ArrayData], l, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("bpeKernel", BpeKernel,
      BpeKernel.getClass.getName)
    val lRef = ctx.addReferenceObj("mpLeft", l, classOf[UTF8String].getName)
    val rRef = ctx.addReferenceObj("mpRight", r, classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $kernel.mergePair($a, $lRef, $rRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): MergePair =
    copy(child = newChild)
}

case class BpeEncode(child: Expression, ranks: Seq[(String, String)],
    endMark: String)
  extends UnaryExpression with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires a string document, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  private val table = new BpeTable(ranks, endMark)

  override protected def nullSafeEval(t: Any): Any =
    table.encode(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeTable].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $tableRef.encode($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}
