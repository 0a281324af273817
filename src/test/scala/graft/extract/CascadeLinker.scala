package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference implementation of [[Linker.link]]: the three tiers as a
  * broadcast-join cascade over the distinct mention keys (exact and
  * article-stripped hash joins, then a blocked fuzzy candidate join ranked
  * by a `row_number` window), with the verdicts joined back onto the
  * mention rows. LinkerSpec compares the LocalLinker path against it.
  */
object CascadeLinker {

  /** The 3-tier lookup cascade over a DISTINCT key table
    * (one column `mkey`): exact (conf 1.0) -> article-stripped (0.95) ->
    * blocked fuzzy (conf = ratio >= 0.85). Returns exactly one verdict
    * row per input key: (mkey, akey, canonical_id, canonical_name,
    * entity_type, link_confidence) — null id/conf when unresolved.
    */
  private def linkKeys(
      spark: SparkSession,
      keys: DataFrame,
      alias: DataFrame): DataFrame = {
    val ratioUdf = udf((a: String, b: String) => Linker.indelRatio(a, b))
    val k = keys.withColumn("mkey2", Linker.stripArticle(col("mkey")))

    // tier 1: exact (akey is unique in the registry -> <=1 match per key)
    val t1 = k.join(alias, col("mkey") === col("akey"), "left")
    val hit1 = t1.filter(col("canonical_id").isNotNull)
      .withColumn("link_confidence", lit(1.0))
    val miss1 = t1.filter(col("canonical_id").isNull)
      .drop("akey", "canonical_id", "entity_type", "canonical_name")

    // tier 2: article-stripped
    val t2 = miss1.join(alias, col("mkey2") === col("akey"), "left")
    val hit2 = t2.filter(col("canonical_id").isNotNull)
      .withColumn("link_confidence", lit(0.95))
    val miss2 = t2.filter(col("canonical_id").isNull)
      .drop("akey", "canonical_id", "entity_type", "canonical_name")

    // tier 3: blocked fuzzy; best candidate per key by (ratio desc,
    // id asc) — deterministic
    val cand = miss2.join(
      alias,
      substring(col("mkey"), 1, 1) === substring(col("akey"), 1, 1) &&
        abs(length(col("mkey")) - length(col("akey"))) <= 3,
      "left")
      .withColumn("ratio",
        when(col("akey").isNotNull, ratioUdf(col("mkey"), col("akey"))))
      .withColumn("fuzzy_ok", col("ratio") >= 0.85)
    val w = Window.partitionBy("mkey")
      .orderBy(col("fuzzy_ok").desc_nulls_last, col("ratio").desc_nulls_last,
        col("canonical_id").asc_nulls_last)
    val t3 = cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("matched", col("fuzzy_ok").isNotNull && col("fuzzy_ok"))
      .select(col("mkey"), col("mkey2"),
        col("akey"),
        when(col("matched"), col("canonical_id")).as("canonical_id"),
        when(col("matched"), col("canonical_name")).as("canonical_name"),
        when(col("matched"), col("entity_type")).as("entity_type"),
        when(col("matched"), col("ratio")).as("link_confidence"))

    hit1.unionByName(hit2).unionByName(t3, allowMissingColumns = false)
      .drop("mkey2")
  }

  /** [[Linker.link]]'s contract: the mention rows with mkey first and
    * canonical_id, entity_type, canonical_name, link_confidence, is_new
    * appended. The cascade runs over the distinct key table, and the one
    * verdict row per key is joined back onto the mention rows.
    */
  def link(
      spark: SparkSession,
      mentions: DataFrame,
      seeds: Seq[SeedEntity] = Seeds.default): DataFrame = {
    import spark.implicits._
    val alias = broadcast(Seeds.aliasRows(seeds)
      .toDF("akey", "canonical_id", "entity_type", "canonical_name"))
    // reuse a pre-materialized key column when the input carries one
    // (Pipeline.mentions stores it with the stage)
    val m =
      if (mentions.columns.contains("mkey")) mentions
      else mentions.withColumn("mkey", Linker.cleanKey(col("text")))
    val verdicts = linkKeys(spark, m.select("mkey").distinct(), alias)

    // exactly one verdict row per distinct key -> inner join attaches
    // without duplicating or dropping mention rows
    m.join(broadcast(verdicts.drop("akey")), Seq("mkey"))
      .withColumn("is_new", col("canonical_id").isNull)
      .withColumn("entity_type",
        when(col("is_new"), Linker.inferType(col("label"), col("text")))
          .otherwise(col("entity_type")))
      .withColumn("link_confidence",
        coalesce(col("link_confidence"), lit(0.0)))
  }
}
