package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Classify

/** Learned curation models: NB separates synthetic classes through the
  * exact integer scoring path (smoothing, OOV drop, prior fallback,
  * deterministic ties), and DSIR ranks target-like candidates above
  * target-unlike ones with a seed-reproducible draw.
  */
class ClassifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def toks(rows: Seq[(Long, String, String)]) =
    rows.toDF("id", "label", "text")
      .select(col("id"), col("label"), split(trim(col("text")), " +").as("toks"))

  test("NB separates disjoint-vocabulary classes and smooths unseen tokens") {
    val train = toks(Seq(
      (1L, "sports", "goal match team goal"),
      (2L, "sports", "team win match"),
      (3L, "science", "atom quark atom"),
      (4L, "science", "quark energy atom"))).select("label", "toks")
    val test = toks(Seq(
      (10L, "?", "goal team"),         // pure sports vocabulary
      (11L, "?", "atom energy quark"), // pure science vocabulary
      (12L, "?", "goal atom goal")))   // majority sports, one science token
      .select("id", "toks")
    val out = Classify.nbClassify(train, test).orderBy("id")
      .select("id", "pred").as[(Long, String)].collect()
    assert(out.toSeq === Seq((10L, "sports"), (11L, "science"),
      (12L, "sports")))
  }

  test("all-OOV doc falls back to the prior argmax; ties break lexicographically") {
    // 3 sports docs vs 1 science doc -> prior favors sports
    val train = toks(Seq(
      (1L, "sports", "goal"), (2L, "sports", "team"),
      (3L, "sports", "win"), (4L, "science", "atom"))).select("label", "toks")
    val oov = toks(Seq((20L, "?", "zzz yyy"))).select("id", "toks")
    val pred = Classify.nbClassify(train, oov)
      .select("pred").as[String].head()
    assert(pred === "sports", "prior-only score must still classify")

    // equal priors, equal likelihoods -> tie -> lexicographic winner
    val sym = toks(Seq(
      (1L, "aa", "tok"), (2L, "bb", "tok"))).select("label", "toks")
    val tied = Classify.nbClassify(sym,
      toks(Seq((30L, "?", "tok"))).select("id", "toks"))
      .select("pred").as[String].head()
    assert(tied === "aa", "exact-integer tie must break on label order")
  }

  test("NB scores are exact micro-nat integers reproducible from the model") {
    // one class, one token type: score = ln(1/1)·1e6 prior +
    // n·ln((c+1)/(T+V))·1e6 — hand-checkable
    val train = toks(Seq((1L, "only", "w w w"))).select("label", "toks")
    val out = Classify.nbClassify(train,
      toks(Seq((40L, "?", "w w"))).select("id", "toks"))
      .select("score_u").as[Long].head()
    // prior = ln(1) = 0; ll = ln((3+1)/(3+1)) = 0 per occurrence
    assert(out === 0L, s"degenerate single-class model scores 0, got $out")
  }

  test("NB ignores NULL tokens: scores equal the corpus without them") {
    val rows = Seq(
      (1L, "sports", "goal match team goal"),
      (2L, "sports", "team win"),
      (3L, "science", "atom quark atom"))
    val train = toks(rows).select("label", "toks")
    // the same documents with a NULL element in every token array
    val withNulls = toks(rows).select(col("label"),
      concat(col("toks"), array(lit(null).cast("string"))).as("toks"))
    val test = toks(Seq((10L, "?", "goal atom"), (11L, "?", "quark win")))
      .select("id", "toks")
    def scores(tr: org.apache.spark.sql.DataFrame) =
      Classify.nbClassify(tr, test).orderBy("id")
        .select("id", "pred", "score_u").as[(Long, String, Long)].collect().toSeq
    assert(scores(withNulls) === scores(train))
  }

  test("DSIR ranks target-like candidates first and is seed-stable") {
    val docs = (
      // target: English-ish bigram world
      (1L to 20L).map(i => (i, "en", "the quick brown fox jumps")) ++
      // candidate A: same content as target (should score high)
      Seq((100L, "de", "the quick brown fox jumps")) ++
      // candidates B: disjoint content (should score low)
      (200L to 219L).map(i => (i, "de", s"völlig anderes vokabular $i"))
    ).toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("lang"),
        split(trim(col("text")), " +").as("toks"))
    val sel = Classify.dsirSelect(docs, target = col("lang") === "en", k = 5)
    val ranked = sel.orderBy(col("logw_u").desc).select("doc_id")
      .as[Long].collect()
    assert(ranked.head === 100L,
      s"the target-identical candidate must carry the top weight: ${ranked.toSeq}")
    // same seed, same data -> identical drawn set (pure function)
    val again = Classify.dsirSelect(docs, target = col("lang") === "en", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(again === sel.select("doc_id").as[Long].collect().toSet)
    // different seed -> hashing and noise both reseeded, draw moves
    val other = Classify.dsirSelect(docs, target = col("lang") === "en",
      k = 5, seed = "other-seed")
    val z1 = sel.select("z_u").as[Long].collect().toSet
    val z2 = other.select("z_u").as[Long].collect().toSet
    assert(z1 != z2, "reseeding must move the Gumbel draw")
  }
}
