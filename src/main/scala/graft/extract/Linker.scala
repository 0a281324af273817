package graft.extract

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded entity linking (reference EntityDatabase.lookup / EntityResolver,
  * extract/resolver.py:72-257): a three-tier lookup of the cleaned mention
  * key against the seed registry —
  *
  *   tier 1  exact key            — conf 1.0
  *   tier 2  article-stripped key — conf 0.95
  *   tier 3  fuzzy                — candidates blocked by (first char,
  *           |len diff| <= 3), similarity = rapidfuzz-exact indel ratio
  *           >= 0.85, conf = ratio (resolver.py:91-105)
  *
  * Linking runs through [[LocalLinker]] everywhere — a broadcast in-process
  * index, so the mention side never shuffles and head-entity skew (one
  * protagonist dominating mention counts) cannot concentrate on a single
  * reducer. A broadcast-join cascade with the same tiers is the spec
  * reference (LinkerSpec).
  */
object Linker {

  /** rapidfuzz `fuzz.ratio` semantics, exactly: indel distance (Levenshtein
    * with substitution cost 2) normalized — ratio = 2*LCS/(|a|+|b|).
    * SURVEY.md §7.4 risk 3: `1 - levenshtein/max(len)` differs on
    * substitutions, so we implement the real thing.
    */
  def indelRatio(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val (s, t) = (a, b)
    // LCS length, two-row DP
    var prev = new Array[Int](t.length + 1)
    var cur = new Array[Int](t.length + 1)
    var i = 0
    while (i < s.length) {
      var j = 0
      while (j < t.length) {
        cur(j + 1) =
          if (s.charAt(i) == t.charAt(j)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    2.0 * prev(t.length) / (s.length + t.length)
  }

  /** Mention-text cleaning (resolver.py:213-221): collapse whitespace,
    * strip possessive 's.
    */
  def cleanKey(c: Column): Column =
    // final trim AFTER the possessive strip, like the reference
    // (resolver.py:213-221 ends with .strip()) and LocalLinker.cleanKey —
    // "Frodo 's" must clean to "frodo", not "frodo " (round-5 review: the
    // trailing space missed the exact tiers and fell to fuzzy, so the
    // fused and join linkers produced different confidences)
    lower(trim(regexp_replace(regexp_replace(trim(c), """\s+""", " "), "'s$", "")))

  /** Article strip (resolver.py:85-89). */
  def stripArticle(c: Column): Column =
    regexp_replace(c, "^(the |a |an )", "")

  /** Scala-side twin of [[inferType]] for fused mapPartitions stages. */
  def inferTypeLocal(label: String, text: String): String = label match {
    case "PERSON" | "ORG" => "character"
    case "PLACE" => "place"
    case "OBJECT" => "object"
    case "EVENT" => "event"
    case _ =>
      val l = text.toLowerCase(java.util.Locale.ROOT)
      if (graft.Lexicon.PlaceIndicators.exists(l.contains)) "place"
      else if (graft.Lexicon.ObjectIndicators.exists(l.contains)) "object"
      else "unknown"
  }

  /** Type inference for unlinked mentions (resolver.py:223-257). */
  def inferType(label: Column, text: Column): Column = {
    val lower_ = lower(text)
    val placeHit = graft.Lexicon.PlaceIndicators
      .map(k => lower_.contains(k)).reduce(_ || _)
    val objectHit = graft.Lexicon.ObjectIndicators
      .map(k => lower_.contains(k)).reduce(_ || _)
    when(label === "PERSON", "character")
      .when(label === "PLACE", "place")
      .when(label === "OBJECT", "object")
      .when(label === "EVENT", "event")
      .when(label === "ORG", "character")
      .when(placeHit, "place")
      .when(objectHit, "object")
      .otherwise("unknown")
  }

  /** Link mentions against a seed registry. Adds columns:
    * canonical_id, canonical_name, entity_type, link_confidence, is_new.
    *
    * One narrow pass: each row's cleaned key `mkey` is looked up in a
    * broadcast [[LocalLinker]] — the registry is tiny, so there is no
    * distinct-key shuffle, join or window. This is the same lookup the
    * fused extraction ([[Triples.fromPassagesFused]]) and the speaker
    * resolution of the materialization job use; the three-tier broadcast-
    * join cascade it replaced is kept in the test tree as the reference
    * LinkerSpec compares this output against, row for row and schema for
    * schema. Only the per-row pieces — is_new and the type inference for
    * unlinked mentions, which need label/text — are plain expressions.
    */
  def link(
      spark: SparkSession,
      mentions: DataFrame,
      seeds: Seq[SeedEntity] = Seeds.default): DataFrame = {
    val linker = spark.sparkContext.broadcast(new LocalLinker(seeds))
    val verdict = udf((k: String) => linker.value.lookupKey(k))
    // reuse a pre-materialized key column when the input carries one
    // (Pipeline.mentions stores it with the stage)
    val m =
      if (mentions.columns.contains("mkey")) mentions
      else mentions.withColumn("mkey", cleanKey(col("text")))
    // column order and types of the reference cascade's key join: mkey
    // first, the link columns after the mention columns; a row whose key
    // is null has no verdict there and is dropped here too
    m.filter(col("mkey").isNotNull)
      .withColumn("verdict__", verdict(col("mkey")))
      .select((col("mkey") +: m.columns.toSeq.filter(_ != "mkey").map(col)) ++
        Seq(col("verdict__._1").as("canonical_id"),
          col("verdict__._2").as("entity_type"),
          col("verdict__._3").as("canonical_name"),
          col("verdict__._4").as("link_confidence")): _*)
      .withColumn("is_new", col("canonical_id").isNull)
      .withColumn("entity_type",
        when(col("is_new"), inferType(col("label"), col("text")))
          .otherwise(col("entity_type")))
      .withColumn("link_confidence",
        coalesce(col("link_confidence"), lit(0.0)))
    // mkey intentionally KEPT in the output: downstream consumers of the
    // linked stage (the cross-book resolver) reuse it as the node key
    // instead of re-deriving the cleanKey regex chain per row
  }
}
