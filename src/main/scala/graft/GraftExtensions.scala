package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{BloomBuildAgg, BloomMightContain, CosineSimilarity, Fingerprint64, IntDot, KmvAgg, MinHashAgg, MisraGriesAgg, NfcNormalize, ShingleHashes, ShingleHashesMd5, SimHashAgg, TrigramLangScores, TrigramLangScoreSums}
import graft.plans.AsOfJoinStrategy

/** SparkSessionExtensions entry point — makes the engine's custom
  * Catalyst pieces first-class for ANY session (including plain
  * `spark-sql` / thrift users who never touch the Scala API):
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * injects the as-of join planner strategy (so `AsOfJoinNode` plans
  * without the imperative `extraStrategies` registration the Scala API
  * also performs), registers the codegen'd expressions as SQL
  * functions — `fingerprint64(text)`, `shingle_hashes(text[, k])`,
  * `shingle_hashes_md5(text[, k])` (the engine-portable md5-60bit
  * variant), `nfc_normalize(text)`, `trigram_lang_scores(text)`,
  * `trigram_lang_score_sums(text)` (integer sums + trigram count),
  * `cosine_similarity(a, b)`, `int_dot(a, b)` (exact BIGINT dot for
  * micro-quantized vectors) — and the sketch
  * AGGREGATES — `minhash_sketch(hash[, k])`, `simhash_sketch(hash)`,
  * `kmv_sketch(hash[, k])`, `misra_gries(token[, k])`,
  * `bloom_build(hash[, bits, hashes])` with its probe
  * `might_contain(filter, hash)` — usable in plain `GROUP BY` SQL
  * (the analyzer wraps a returned AggregateFunction in its
  * AggregateExpression automatically).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)

    /** Register SQL function `name` of expression class `cls`: `build`
      * maps the arguments it accepts, and any other argument list raises
      * `usage`. */
    def register(name: String, cls: Class[_], usage: String)(
        build: PartialFunction[Seq[Expression], Expression]): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => build.applyOrElse(args,
          (_: Seq[Expression]) => throw new IllegalArgumentException(usage))))

    register("fingerprint64", classOf[Fingerprint64],
        "fingerprint64(text) takes exactly one argument") {
      case Seq(c) => Fingerprint64(c)
    }
    register("shingle_hashes", classOf[ShingleHashes],
        "shingle_hashes(text[, k: int literal])") {
      case Seq(c) => ShingleHashes(c, 3)
      case Seq(c, Literal(k: Int, _)) => ShingleHashes(c, k)
    }
    register("shingle_hashes_md5", classOf[ShingleHashesMd5],
        "shingle_hashes_md5(text[, k: int literal])") {
      case Seq(c) => ShingleHashesMd5(c, 3)
      case Seq(c, Literal(k: Int, _)) => ShingleHashesMd5(c, k)
    }
    register("nfc_normalize", classOf[NfcNormalize],
        "nfc_normalize(text) takes exactly one argument") {
      case Seq(c) => NfcNormalize(c)
    }
    register("trigram_lang_scores", classOf[TrigramLangScores],
        "trigram_lang_scores(text) takes exactly one argument") {
      case Seq(c) => TrigramLangScores(c)
    }
    register("trigram_lang_score_sums", classOf[TrigramLangScoreSums],
        "trigram_lang_score_sums(text) takes exactly one argument") {
      case Seq(c) => TrigramLangScoreSums(c)
    }
    register("cosine_similarity", classOf[CosineSimilarity],
        "cosine_similarity(a: array<float>, b: array<float>)") {
      case Seq(a, b) => CosineSimilarity(a, b)
    }
    register("int_dot", classOf[IntDot],
        "int_dot(a: array<bigint>, b: array<bigint>)") {
      case Seq(a, b) => IntDot(a, b)
    }

    // sketch aggregates: a builder may return the bare AggregateFunction —
    // the analyzer wraps it in an AggregateExpression
    register("minhash_sketch", classOf[MinHashAgg],
        "minhash_sketch(feature_hash: bigint[, k: int literal])") {
      case Seq(c) => MinHashAgg(c, 64)
      case Seq(c, Literal(k: Int, _)) => MinHashAgg(c, k)
    }
    register("simhash_sketch", classOf[SimHashAgg],
        "simhash_sketch(feature_hash: bigint) takes exactly one argument") {
      case Seq(c) => SimHashAgg(c)
    }
    register("kmv_sketch", classOf[KmvAgg],
        "kmv_sketch(feature_hash: bigint[, k: int literal])") {
      case Seq(c) => KmvAgg(c, 256)
      case Seq(c, Literal(k: Int, _)) => KmvAgg(c, k)
    }
    register("bloom_build", classOf[BloomBuildAgg],
        "bloom_build(feature_hash: bigint[, bits, hashes: int literals])") {
      case Seq(c) => BloomBuildAgg(c, 1 << 20, 7)
      case Seq(c, Literal(bits: Int, _), Literal(h: Int, _)) =>
        BloomBuildAgg(c, bits.toLong, h)
      case Seq(c, Literal(bits: Long, _), Literal(h: Int, _)) =>
        BloomBuildAgg(c, bits, h)
    }
    register("might_contain", classOf[BloomMightContain],
        "might_contain(filter: binary, feature_hash: bigint)") {
      case Seq(f, k) => BloomMightContain(f, k)
    }
    register("misra_gries", classOf[MisraGriesAgg],
        "misra_gries(token: string[, k: int literal])") {
      case Seq(c) => MisraGriesAgg(c, 64)
      case Seq(c, Literal(k: Int, _)) => MisraGriesAgg(c, k)
    }
  }
}
