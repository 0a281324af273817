package graft.extract

/** In-process seed lookup: the three [[Linker]] tiers (exact 1.0 ->
  * article-strip 0.95 -> blocked fuzzy >= 0.85, best by (ratio desc, id
  * asc)). Broadcast into every linking site — the linked stage
  * ([[Linker.link]]), the fused extraction and speaker resolution;
  * LinkerSpec asserts it agrees key-for-key with the reference join
  * cascade.
  */
final class LocalLinker(seeds: Seq[SeedEntity]) extends Serializable {

  // aliasRows is already one-row-per-key (last registration wins, the
  // reference's dict semantics), so this toMap cannot drop information —
  // the join cascade builds from the SAME deduped rows
  private val index: Map[String, (String, String, String)] =
    Seeds.aliasRows(seeds).map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  /** (firstChar, keys sorted) blocking for the fuzzy tier. */
  private val byFirst: Map[Char, Seq[String]] =
    index.keys.toSeq.sorted.groupBy(_.head)

  /** Exactly `text.trim.split("\\s+").mkString(" ").replaceAll("'s$", "")
    * .trim.toLowerCase(ROOT)` — the SQL twin is Linker.cleanKey — as one
    * char-array pass with no per-call Pattern compile. This runs once per
    * mention inside the fused extraction and was the single largest
    * allocation site of the 16-thread scaling leg (~19% of sampled bytes:
    * two Pattern compiles + split array + mkString per call; round-5 JFR).
    * Equivalence is property-tested in HotSpec.
    */
  private[extract] def cleanKey(text: String): String = {
    // String.trim bounds (drops c <= ' ' both ends; regex \s is a subset)
    var from = 0
    var to = text.length
    while (from < to && text.charAt(from) <= ' ') from += 1
    while (to > from && text.charAt(to - 1) <= ' ') to -= 1
    if (from == to) return ""
    // collapse java-regex \s runs to single ' ' (split("\\s+")+mkString)
    val buf = new Array[Char](to - from)
    var n = 0
    var i = from
    while (i < to) {
      val c = text.charAt(i)
      if (Hot.isRegexWs(c)) {
        buf(n) = ' '
        n += 1
        i += 1
        while (i < to && Hot.isRegexWs(text.charAt(i))) i += 1
      } else {
        buf(n) = c
        n += 1
        i += 1
      }
    }
    // replaceAll("'s$", "") — drop one trailing "'s"
    if (n >= 2 && buf(n - 1) == 's' && buf(n - 2) == '\'') n -= 2
    // final .trim — dropping "'s" can expose trailing c <= ' '
    while (n > 0 && buf(n - 1) <= ' ') n -= 1
    if (n == 0) "" else new String(buf, 0, n).toLowerCase(java.util.Locale.ROOT)
  }

  /** Exactly `k.replaceFirst("^(the |a |an )", "")` — the three prefixes
    * are mutually exclusive, so ordered startsWith checks are equivalent.
    */
  private def stripArticle(k: String): String =
    if (k.startsWith("the ")) k.substring(4)
    else if (k.startsWith("an ")) k.substring(3)
    else if (k.startsWith("a ")) k.substring(2)
    else k

  /** Returns (canonical_id, entity_type, canonical_name, confidence). */
  def lookup(text: String): Option[(String, String, String, Double)] =
    lookupKey(cleanKey(text))

  /** [[lookup]] of an already-cleaned key (Linker.cleanKey's output). */
  def lookupKey(k: String): Option[(String, String, String, Double)] = {
    if (k.isEmpty) return None
    index.get(k).map { case (id, t, n) => (id, t, n, 1.0) }
      .orElse {
        val s = stripArticle(k)
        if (s != k) index.get(s).map { case (id, t, n) => (id, t, n, 0.95) }
        else None
      }
      .orElse {
        val cands = byFirst.getOrElse(k.head, Nil)
          .filter(a => math.abs(a.length - k.length) <= 3)
          .map(a => (a, Linker.indelRatio(k, a)))
          .filter(_._2 >= 0.85)
        if (cands.isEmpty) None
        else {
          // best ratio; ties by canonical id asc (matches the join's
          // row_number ordering)
          val best = cands.map { case (a, r) =>
            val (id, t, n) = index(a); (id, t, n, r)
          }.minBy { case (id, _, _, r) => (-r, id) }
          Some(best)
        }
      }
  }
}
