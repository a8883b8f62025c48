package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{call_function, lit, xxhash64}

/** One engine SQL function: its name, the expression class that
  * implements it (what `DESCRIBE FUNCTION` reports), usage text, and the
  * builder the function registry calls with the argument expressions.
  */
final case class GraftFunction(name: String, cls: Class[_], usage: String,
                               builder: Seq[Expression] => Expression)

/** The engine's SQL functions and their Column-level entries.
  *
  * [[all]] is the one registration table: `graft.GraftExtensions`
  * injects it into every session at construction, so every session
  * `graft.GraftSession.configure` builds — and its `newSession()` and
  * cloned streaming sessions — resolves these names with no per-session
  * step. The Column helpers below resolve by name (`call_function`).
  */
object GraftFunctions {
  val COSINE_SIM = "graft_cosine_sim"
  val SORTED_INTERSECT_COUNT = "graft_sorted_intersect_count"
  val SORTED_INT_INTERSECT_COUNT = "graft_sorted_int_intersect_count"
  val ARRAY_EQ_COUNT = "graft_array_eq_count"
  val SIMHASH64 = "graft_simhash64"
  val MINHASH_SIG = "graft_minhash_signature"
  val LSH_SIG = "graft_lsh_signature"
  val JARO_WINKLER = "graft_jaro_winkler"
  val FOLD_TEXT = "graft_fold_text"
  val BLOOM_AGG = "graft_bloom_agg"
  val BLOOM_MIGHT_CONTAIN = "graft_bloom_might_contain"

  val all: Seq[GraftFunction] = Seq(
    GraftFunction(COSINE_SIM, classOf[CosineSimilarity],
      "cosine similarity of two float arrays, double precision",
      e => CosineSimilarity(e(0), e(1))),
    GraftFunction(SORTED_INTERSECT_COUNT, classOf[SortedIntersectCount],
      "count of common elements of two sorted distinct string arrays",
      e => SortedIntersectCount(e(0), e(1))),
    GraftFunction(SORTED_INT_INTERSECT_COUNT, classOf[SortedIntIntersectCount],
      "count of common elements of two sorted distinct int arrays",
      e => SortedIntIntersectCount(e(0), e(1))),
    GraftFunction(ARRAY_EQ_COUNT, classOf[ArrayEqCount],
      "count of positions where two long arrays agree",
      e => ArrayEqCount(e(0), e(1))),
    GraftFunction(SIMHASH64, classOf[Simhash64],
      "64-bit simhash of a token array", e => Simhash64(e.head)),
    GraftFunction(MINHASH_SIG, classOf[MinhashSignature],
      "64-hash minhash signature of a token array",
      e => MinhashSignature(e.head, 64)),
    GraftFunction(LSH_SIG, classOf[LshSignature],
      "random-hyperplane LSH bucket of a float array; optional plane count (default 8)",
      lshSignatureBuilder),
    GraftFunction(JARO_WINKLER, classOf[JaroWinkler],
      "Jaro-Winkler similarity of two strings (0.7-threshold prefix boost)",
      e => JaroWinkler(e(0), e(1))),
    GraftFunction(FOLD_TEXT, classOf[FoldText],
      "canonical text fold: unaccent + casefold + whitespace collapse",
      e => FoldText(e.head)),
    // Spark ships mergeable bloom filters for its runtime join pruning
    // but does not register them as SQL functions; exposing the same
    // expressions here makes explicit bloom semi-join pruning available
    // to queries (callers hash with xxhash64 first, as the runtime
    // filter rule does)
    GraftFunction(BLOOM_AGG, classOf[BloomFilterAggregate],
      "mergeable bloom filter (binary) over xxhash64 keys: (key, estimatedItems, numBits)",
      e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    GraftFunction(BLOOM_MIGHT_CONTAIN, classOf[BloomFilterMightContain],
      "whether a graft_bloom_agg filter might contain an xxhash64 key (no false negatives)",
      e => BloomFilterMightContain(e(0), e(1))))

  /** Optional second arg = plane count (foldable int literal); the
    * expression is general, so the registration is too (ADVICE r3) —
    * default 8 preserves the existing one-arg SQL surface.
    */
  private def lshSignatureBuilder(exprs: Seq[Expression]): Expression = {
    val planes =
      if (exprs.length <= 1) 8
      else {
        val e = exprs(1)
        // foldable check BEFORE eval: a column argument must produce the
        // advertised error, not eval()'s internal UnsupportedOperation
        if (!e.foldable) throw new IllegalArgumentException(
          s"$LSH_SIG: plane count must be an integer literal, got ${e.sql}")
        e.eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"$LSH_SIG: plane count must be an integer literal, got $other")
        }
      }
    // the signature is one long: >64 planes would silently alias
    // (1L << p wraps mod 64) and <=0 is meaningless — fail fast
    if (planes < 1 || planes > 64) throw new IllegalArgumentException(
      s"$LSH_SIG: plane count must be in [1, 64], got $planes")
    LshSignature(exprs.head, planes)
  }

  def cosineSim(a: Column, b: Column): Column = call_function(COSINE_SIM, a, b)

  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function(SORTED_INTERSECT_COUNT, a, b)

  def sortedIntIntersectCount(a: Column, b: Column): Column =
    call_function(SORTED_INT_INTERSECT_COUNT, a, b)

  def arrayEqCount(a: Column, b: Column): Column =
    call_function(ARRAY_EQ_COUNT, a, b)

  def simhash64(tokens: Column): Column = call_function(SIMHASH64, tokens)

  /** 64-hash minhash signature (array<long>). */
  def minhashSignature(tokens: Column): Column = call_function(MINHASH_SIG, tokens)

  /** Random-hyperplane LSH bucket (long), `numPlanes` sign bits. */
  def lshSignature(vec: Column, numPlanes: Int = 8): Column =
    call_function(LSH_SIG, vec, lit(numPlanes))

  /** Jaro-Winkler similarity of two strings (double in [0, 1]). */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function(JARO_WINKLER, a, b)

  /** Canonical fold (unaccent + casefold + whitespace collapse). */
  def foldText(s: Column): Column = call_function(FOLD_TEXT, s)

  /** Mergeable bloom filter over xxhash64(key) (binary). */
  def bloomAgg(key: Column, estimatedItems: Long, numBits: Long): Column =
    call_function(BLOOM_AGG, xxhash64(key), lit(estimatedItems), lit(numBits))

  /** Membership probe against a [[bloomAgg]] filter: no false
    * negatives; false-positive rate set by the build sizing.
    */
  def bloomMightContain(bloom: Column, key: Column): Column =
    call_function(BLOOM_MIGHT_CONTAIN, bloom, xxhash64(key))
}
