package graft

import org.apache.spark.sql.functions._

/** The BASELINE.json acceptance gate: precision AND recall >= 0.95 of the
  * pipeline's (subj, pred, obj, passage) triples against the golden set.
  * The golden set is derived here independently from the raw lineitem
  * keys (the planted-triple generative model), NOT from the pipeline.
  */
class GoldenTriplesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("triple P/R >= 0.95 vs planted goldens (exact match expected)") {
    import spark.implicits._

    // golden derivation straight from the keys
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .collect()
    val byOrder = li.groupBy(_.getLong(0))
    val golden = byOrder.toSeq.flatMap { case (ok, rows) =>
      val sorted = rows.sortBy(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
      sorted.zipWithIndex.flatMap { case (r, pos) =>
        val pk = r.getLong(2); val ln = r.getInt(1); val sk = r.getLong(3)
        val s = (pk % 20).toInt
        val o0 = ((pk + 3 * ln) % 20).toInt
        val o = if (o0 == s) (s + 1) % 20 else o0
        val v = (sk % 8).toInt
        val p = ((pk + sk) % 12).toInt
        val m = ((7 * pk + 13 * ln + 3 * sk) % 29).toInt
        if (m <= 10 || m == 14) {
          val (_, pred, kind) = Lexicon.Verbs(v)
          val objId = if (kind == 1) Lexicon.Places(p).toLowerCase
            else Lexicon.Chars(o).toLowerCase
          Seq((s"doc_$ok", pos, Lexicon.Chars(s).toLowerCase, pred, objId))
        } else if (m == 27) {
          // dated arrival: "X arrived in P ..." -> TRAVELED_TO place
          Seq((s"doc_$ok", pos, Lexicon.Chars(s).toLowerCase, "TRAVELED_TO",
            Lexicon.Places(p).toLowerCase))
        } else if (m == 28) {
          // multi-sentence span: two triples
          Seq(
            (s"doc_$ok", pos, Lexicon.Chars(s).toLowerCase, "MET",
              Lexicon.Chars(o).toLowerCase),
            (s"doc_$ok", pos, Lexicon.Chars(o).toLowerCase, "HELPED",
              Lexicon.Chars((o + 3) % 20).toLowerCase))
        } else Nil
      }
    }.toSet

    val got = Pipeline.triples(spark, sf)
      .select("doc_id", "pos", "subject_id", "predicate", "object_id")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4)))
      .toSet

    val tp = (got intersect golden).size.toDouble
    val precision = tp / got.size
    val recall = tp / golden.size
    info(f"precision=$precision%.4f recall=$recall%.4f golden=${golden.size} got=${got.size}")
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")
    // on the synthetic corpus the pipeline is exact
    assert(precision == 1.0 && recall == 1.0)
  }

  test("linked stage: Linker.link == the reference join cascade, " +
    "row for row, same schema") {
    // the session's mention stage carries the stored mkey; the
    // materialization job's mention stage does not
    val stage = Pipeline.mentions(spark, sf)
    for (mentions <- Seq(stage, stage.drop("mkey"))) {
      val got = graft.extract.Linker.link(spark, mentions)
      val want = graft.extract.CascadeLinker.link(spark, mentions)
      assert(got.schema == want.schema, s"${got.schema} != ${want.schema}")
      assert(want.count() > 0)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }
}
