package graft.queries

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Decontaminate, Dedup, Multimodal, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the LLM-data-pipeline operators (SURVEY
  * §2.9 L1-L8) over `documents` / `embeddings`.
  *
  * The sf0.01 `documents` fixture has all-distinct texts, so the dedup
  * queries first synthesize duplicates deterministically (exact copies /
  * one-token-appended near-copies with offset ids) — the oracle SQL
  * applies the identical construction, so the dedup logic itself is what
  * gets compared.
  *
  * Float policy: oracle-compared similarity scores go through the
  * integer-quantization grid (VectorFunctions.quantize/cosineQ) so Spark
  * and DuckDB agree bit-for-bit; the float path is unit-tested instead.
  */
object LlmQueries {
  import QU._

  /** documents ∪ exact copies of every 5th doc (ids offset by 100000). */
  private def withExactDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** documents ∪ near-copies (one token appended) of every 7th doc. */
  private def withNearDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zzextra")).as("text")))
  }

  private val QSCALE = 1000000L

  /** Per-SF table-name tag for the probe-only queries' pre-built
    * indexes: build once per (session, scale factor), never let an
    * index built from one SF's data answer a probe at another. */
  private def sfTag(d: String): String =
    d.split('/').filter(_.nonEmpty).last.replaceAll("[^A-Za-z0-9]", "_")
  /** DuckDB side of `VF.quantize` ∘ cast-to-double. */
  private def qSql(v: String): String =
    s"list_transform($v, x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS DOUBLE))"
  /** DuckDB side of `VF.cosineQ`. */
  private def cosQSql(a: String, b: String): String =
    s"CAST(list_dot_product(${qSql(a)}, ${qSql(b)}) AS DOUBLE) / sqrt(CAST(list_dot_product(${qSql(a)}, ${qSql(a)}) AS DOUBLE) * CAST(list_dot_product(${qSql(b)}, ${qSql(b)}) AS DOUBLE))"

  private val tokensSql =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)"""

  /** Deterministic URL fixture for l40/l40b: five variants per
    * (host, path) congruence class of doc_id, exercising every
    * canonicalization step; doc_id % 31 rows carry NULL (passthrough). */
  private def urlFixture(ids: DataFrame): DataFrame = {
    val base = concat(lit("Site"), (col("doc_id") % 20).cast("string"),
      lit(".Example.com"))
    val path = concat(lit("/p"), (col("doc_id") % 7).cast("string"))
    val v = col("doc_id") % 5
    ids.select(col("doc_id"),
      when(col("doc_id") % 31 === 0, lit(null).cast("string"))
        .when(v === 0, concat(lit("http://"), base, path))
        .when(v === 1, concat(lit("HTTP://"), upper(base), path, lit("/")))
        .when(v === 2, concat(lit("http://"), base, lit(":80"), path,
          lit("?utm_medium=m&gclid=g")))
        .when(v === 3, concat(lit("http://"), base, path,
          lit("?a=1&utm_campaign=c#x")))
        .otherwise(concat(lit("http://"), base, path, lit("#frag")))
        .as("url"))
  }

  /** DuckDB restatement of [[urlFixture]] (reads `documents`). */
  private val urlFixtureSql =
    """SELECT doc_id, CASE WHEN doc_id % 31 = 0 THEN NULL WHEN doc_id % 5 = 0 THEN 'http://Site' || (doc_id % 20) || '.Example.com/p' || (doc_id % 7) WHEN doc_id % 5 = 1 THEN 'HTTP://' || upper('Site' || (doc_id % 20) || '.Example.com') || '/p' || (doc_id % 7) || '/' WHEN doc_id % 5 = 2 THEN 'http://Site' || (doc_id % 20) || '.Example.com:80/p' || (doc_id % 7) || '?utm_medium=m&gclid=g' WHEN doc_id % 5 = 3 THEN 'http://Site' || (doc_id % 20) || '.Example.com/p' || (doc_id % 7) || '?a=1&utm_campaign=c#x' ELSE 'http://Site' || (doc_id % 20) || '.Example.com/p' || (doc_id % 7) || '#frag' END AS url FROM documents"""

  /** DuckDB restatement of [[graft.operators.UrlOps.canonicalizeUrl]]
    * over a column named `url` — the same 7 regex steps, `||` (never
    * `concat`, whose DuckDB form SKIPS nulls and would turn a NULL url
    * into ''). */
  private val canonUrlSql: String = {
    // raw interpolator: the s-interpolator processes escape sequences
    // even inside triple quotes, and '\1' / '\?' are not valid escapes
    val pre = """regexp_extract(trim(url), '^[^:/?#]+://[^/?#]*')"""
    val lowered = raw"""(lower($pre) || substr(trim(url), len($pre) + 1))"""
    val noFrag = raw"""regexp_replace($lowered, '#.*$$', '')"""
    val noPort = raw"""regexp_replace(regexp_replace($noFrag, '^(http://[^/:?#]*):80([/?#].*)?$$', '\1\2'), '^(https://[^/:?#]*):443([/?#].*)?$$', '\1\2')"""
    val noTrack = raw"""regexp_replace($noPort, '[?&](utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid)=[^&#]*', '', 'g')"""
    val reanchored = raw"""regexp_replace(regexp_replace($noTrack, '^([^?&]*)&', '\1?'), '\?$$', '')"""
    raw"""regexp_replace(regexp_replace($reanchored, '/+\?', '?'), '([^:/])/+$$', '\1')"""
  }

  /** Gopher planted fixture (l41): one doc per rule class — (id, unit,
    * reps), text = unit repeated reps times; the exact same strings
    * render into the oracle via [[gopherPlantsSql]]. Each unit is
    * crafted to violate ONE Gopher rule loudly (asserted per-flag in
    * GopherRulesSpec); 7000011 passes every rule. No single quotes in
    * units (SQL literal safety). */
  private val gopherPlants: Seq[(Long, String, Int)] = Seq(
    (7000001L, "• buy the thing now\n", 20), // bullet_frac 1.0 > 0.9
    (7000002L, "we kept going and then stopped...\n", 20), // ellipsis 1.0
    (7000003L, "the same line of text repeated here\n", 30), // dup lines
    (7000004L, "one paragraph of text that repeats with many same words\n\n",
      10), // dup paragraphs
    (7000005L, "tag # marker # thing of the lot ", 20), // symbol ratio
    (7000006L, "1234 5678 9012 3456 7890 of the ", 20), // alpha frac
    (7000007L, "click here ", 40), // top-2-gram coverage 1.0
    (7000008L, "too short", 1), // word count < 50
    (7000009L, "pneumonoultramicroscopicsilicovolcanoconiosis" +
      " supercalifragilistic of the and that ", 15), // mean word len > 10
    (7000010L, "lorem ipsum dolor sit amet consectetur ", 15), // no stops
    (7000011L, // compliant: passes all fourteen rules
      "the quick brown fox jumps over a lazy dog\n" +
        "every good sentence should have some different words\n" +
        "people write many things about the wide world\n" +
        "reading takes time and gives back useful knowledge\n" +
        "rivers flow down from tall mountains into the sea\n" +
        "builders design strong houses with solid stone walls\n" +
        "farmers grow fresh food across wide open fields\n" +
        "children learn new games during long summer days\n", 1))

  private def gopherPlantDf(s: SparkSession): DataFrame = {
    import s.implicits._
    gopherPlants.map { case (id, u, r) => (id, u * r) }.toDF("doc_id", "text")
  }

  /** One unit string as a DuckDB literal ('' has no escapes; newlines
    * render as chr(10) concatenations). */
  private def gopherSqlStr(s: String): String =
    s.split("\n", -1).map(seg => "'" + seg.replace("'", "''") + "'")
      .mkString(" || chr(10) || ")

  private def gopherPlantsSql: String =
    "SELECT * FROM (VALUES " + gopherPlants.map { case (id, u, r) =>
      s"(CAST($id AS BIGINT), repeat(${gopherSqlStr(u)}, $r))"
    }.mkString(", ") + ") AS plant(doc_id, text)"

  /** Top word-n-gram CTEs for one n: counts, per-doc max count, and
    * the (best count, best word-char length) pair with count ties
    * resolved to the longest n-gram — the same argmax
    * GopherRules.topRunStats folds in-row. */
  private def gopherTopSql(n: Int): String =
    s"g$n AS (SELECT doc_id, unnest(list_transform(generate_series(1, " +
      s"len(ts)-${n - 1}), i -> array_to_string(ts[i:i+${n - 1}], ' '))) " +
      s"AS g FROM base WHERE len(ts) >= $n), " +
      s"c$n AS (SELECT doc_id, g, COUNT(*) AS c FROM g$n GROUP BY 1, 2), " +
      s"m$n AS (SELECT doc_id, MAX(c) AS mc FROM c$n GROUP BY 1), " +
      s"t$n AS (SELECT c$n.doc_id, MAX(c$n.c) AS bc, " +
      s"MAX(len(c$n.g) - ${n - 1}) AS bl FROM c$n JOIN m$n ON " +
      s"c$n.doc_id = m$n.doc_id AND c$n.c = m$n.mc GROUP BY 1)"

  /** The l41 DuckDB oracle: every Gopher rule restated relationally
    * (unnest + per-doc regroup) over documents ∪ the planted fixture —
    * a cross-strategy differential against Spark's in-row sorted-run
    * folds. Every fraction is one IEEE division of engine-exact
    * integers; NULL-denominator metrics are NULL and pass their rule
    * via COALESCE (the no-evidence convention). */
  private def gopherOracleSql: String = {
    val linesSql =
      "list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> len(l) > 0)"
    val parasSql =
      raw"list_filter(list_transform(string_split_regex(text, '\n{2,}'), p -> trim(p)), p -> len(p) > 0)"
    raw"""WITH plant AS ($gopherPlantsSql), docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM plant), base AS (SELECT doc_id, text, $tokensSql AS ts, $linesSql AS ls, $parasSql AS ps FROM docs WHERE text IS NOT NULL), scal AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS nw, CAST(COALESCE(list_sum(list_transform(ts, t -> len(t))), 0) AS BIGINT) AS wc, CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS aw, CAST(len(list_filter(['the','be','to','of','and','that','have','with'], w -> list_contains(ts, w))) AS BIGINT) AS nstop, CAST(len(text) - len(replace(text, '#', '')) + len(regexp_extract_all(text, '\.\.\.|…')) AS BIGINT) AS sym FROM base), lf AS (SELECT doc_id, unnest(ls) AS l FROM base), lcnt AS (SELECT doc_id, l, COUNT(*) AS c FROM lf GROUP BY 1, 2), lstat AS (SELECT doc_id, SUM(c) AS n_l, SUM(c * len(l)) AS l_chars, COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS dup_l, COALESCE(SUM(c * len(l)) FILTER (WHERE c > 1), 0) AS dup_l_chars, COALESCE(SUM(c) FILTER (WHERE substr(l, 1, 1) IN ('•', '●', '-', '*')), 0) AS bul, COALESCE(SUM(c) FILTER (WHERE l LIKE '%...' OR l LIKE '%…'), 0) AS ell FROM lcnt GROUP BY 1), pf AS (SELECT doc_id, unnest(ps) AS p FROM base), pcnt AS (SELECT doc_id, p, COUNT(*) AS c FROM pf GROUP BY 1, 2), pstat AS (SELECT doc_id, SUM(c) AS n_p, SUM(c * len(p)) AS p_chars, COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS dup_p, COALESCE(SUM(c * len(p)) FILTER (WHERE c > 1), 0) AS dup_p_chars FROM pcnt GROUP BY 1), ${gopherTopSql(2)}, ${gopherTopSql(3)}, ${gopherTopSql(4)}, met AS (SELECT s.doc_id, s.nw AS n_words, CASE WHEN s.nw > 0 THEN CAST(s.wc AS DOUBLE) / s.nw END AS mean_word_len, CASE WHEN s.nw > 0 THEN CAST(s.aw AS DOUBLE) / s.nw END AS alpha_frac, s.nstop AS n_stop, CASE WHEN s.nw > 0 THEN CAST(s.sym AS DOUBLE) / s.nw END AS symbol_ratio, CASE WHEN COALESCE(l.n_l, 0) > 0 THEN CAST(l.bul AS DOUBLE) / l.n_l END AS bullet_frac, CASE WHEN COALESCE(l.n_l, 0) > 0 THEN CAST(l.ell AS DOUBLE) / l.n_l END AS ellipsis_frac, CASE WHEN COALESCE(l.n_l, 0) > 0 THEN CAST(l.dup_l AS DOUBLE) / l.n_l END AS dup_line_frac, CASE WHEN COALESCE(l.l_chars, 0) > 0 THEN CAST(l.dup_l_chars AS DOUBLE) / l.l_chars END AS dup_line_char_frac, CASE WHEN COALESCE(p.n_p, 0) > 0 THEN CAST(p.dup_p AS DOUBLE) / p.n_p END AS dup_para_frac, CASE WHEN COALESCE(p.p_chars, 0) > 0 THEN CAST(p.dup_p_chars AS DOUBLE) / p.p_chars END AS dup_para_char_frac, CASE WHEN t2.bc IS NOT NULL AND s.wc > 0 THEN CAST(t2.bc * t2.bl AS DOUBLE) / s.wc END AS top2_char_frac, CASE WHEN t3.bc IS NOT NULL AND s.wc > 0 THEN CAST(t3.bc * t3.bl AS DOUBLE) / s.wc END AS top3_char_frac, CASE WHEN t4.bc IS NOT NULL AND s.wc > 0 THEN CAST(t4.bc * t4.bl AS DOUBLE) / s.wc END AS top4_char_frac FROM scal s LEFT JOIN lstat l USING (doc_id) LEFT JOIN pstat p USING (doc_id) LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id) LEFT JOIN t4 USING (doc_id)) SELECT d.doc_id, m.n_words, m.mean_word_len, m.alpha_frac, m.n_stop, m.symbol_ratio, m.bullet_frac, m.ellipsis_frac, m.dup_line_frac, m.dup_line_char_frac, m.dup_para_frac, m.dup_para_char_frac, m.top2_char_frac, m.top3_char_frac, m.top4_char_frac, CASE WHEN d.text IS NULL THEN TRUE ELSE (m.n_words >= 50 AND m.n_words <= 100000) AND COALESCE(m.mean_word_len >= 3.0 AND m.mean_word_len <= 10.0, TRUE) AND COALESCE(m.alpha_frac >= 0.8, TRUE) AND (m.n_stop >= 2) AND COALESCE(m.symbol_ratio <= 0.1, TRUE) AND COALESCE(m.bullet_frac <= 0.9, TRUE) AND COALESCE(m.ellipsis_frac <= 0.3, TRUE) AND COALESCE(m.dup_line_frac <= 0.3, TRUE) AND COALESCE(m.dup_line_char_frac <= 0.2, TRUE) AND COALESCE(m.dup_para_frac <= 0.3, TRUE) AND COALESCE(m.dup_para_char_frac <= 0.2, TRUE) AND COALESCE(m.top2_char_frac <= 0.2, TRUE) AND COALESCE(m.top3_char_frac <= 0.18, TRUE) AND COALESCE(m.top4_char_frac <= 0.16, TRUE) END AS keep FROM docs d LEFT JOIN met m USING (doc_id) ORDER BY d.doc_id"""
  }

  /** C4 planted fixture (l44): one doc per rule class. Line-level
    * rules show in the surviving `clean_text`; doc-level rules kill.
    * Built from three shared compliant lines (terminal '.', ≥5 words,
    * one sentence mark each) plus one rule-tripping line per doc. No
    * single quotes (SQL literal safety via [[gopherSqlStr]] anyway). */
  private val c4Good3 =
    "the cat sat on the mat today.\n" +
      "the dog ran across the green field.\n" +
      "many people walk along the river at dawn.\n"
  private val c4Plants: Seq[(Long, String)] = Seq(
    (7200001L, // no terminal punctuation → every line dies → 0 sentences
      "this line has five good words\nanother line with plenty of words here\nmore words that keep going along fine\n"),
    (7200002L, // < 5 words per line → every line dies
      "too short a line.\nfour words right here.\nnot enough words.\n"),
    (7200003L, // javascript boilerplate line dies, doc survives
      c4Good3 + "please enable javascript to continue reading this page.\n"),
    (7200004L, // cookie-policy line dies, doc survives
      c4Good3 + "this site uses cookies to improve your browsing experience.\n"),
    (7200005L, // lorem ipsum: the line passes line rules, the DOC dies
      c4Good3 + "the printed sample read lorem ipsum dolor sit amet today.\n"),
    (7200006L, // curly brace: line passes, doc dies
      c4Good3 + "the code sample { x } appears in the documentation today.\n"),
    (7200007L, // blocklist word: line passes, doc dies
      c4Good3 + "the filter flags porn content in this line today.\n"),
    (7200008L, // only two sentences survive → dies on minSentences
      "the cat sat on the mat today.\nthe dog ran across the green field.\n"),
    (7200009L, c4Good3), // fully compliant
    (7200010L, // a line may end in a closing quote (C4 end-mark set)
      "they shouted \"we will go to the hills.\"\n" +
        "the dog ran across the green field.\n" +
        "many people walk along the river at dawn.\n"),
    (7200011L, // partial surgery: bad lines cut, doc survives on the rest
      "the cat sat on the mat today.\nshort line here\n" +
        "no punctuation on this line of words\n" +
        "the dog ran across the green field.\n" +
        "many people walk along the river at dawn.\n"))

  private def c4PlantDf(s: SparkSession): DataFrame = {
    import s.implicits._
    c4Plants.toDF("doc_id", "text")
  }

  private def c4PlantsSql: String =
    "SELECT * FROM (VALUES " + c4Plants.map { case (id, t) =>
      s"(CAST($id AS BIGINT), ${gopherSqlStr(t)})"
    }.mkString(", ") + ") AS plant(doc_id, text)"

  /** The l44 DuckDB oracle: the WHOLE line surgery + doc rules
    * restated over documents ∪ the planted fixture — every predicate
    * (end-mark suffix, word count, substring membership, word-boundary
    * blocklist regex, sentence-mark count) is derived from the SAME
    * [[graft.operators.C4Rules.Config]] the Spark row uses, so the two
    * sides cannot drift. */
  private def c4OracleSql: String = {
    val cfg = graft.operators.C4Rules.Config()
    val ends = cfg.endMarks
      .map(m => s"ends_with(l, ${gopherSqlStr(m)})")
      .mkString("(", " OR ", ")")
    val noDrop = cfg.dropLineSubstrings
      .map(p => s"NOT contains(lower(l), ${gopherSqlStr(p)})")
      .mkString(" AND ")
    val wordsOk = raw"len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= ${cfg.minWordsPerLine}"
    val pred = s"$ends AND $wordsOk AND $noDrop"
    val badPat = graft.operators.C4Rules.badWordPattern(cfg).get
    val linesSql =
      "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0)"
    s"""WITH plant AS ($c4PlantsSql), docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM plant), base AS (SELECT doc_id, $linesSql AS ls FROM docs WHERE text IS NOT NULL), kk AS (SELECT doc_id, COALESCE(array_to_string(list_filter(ls, l -> $pred), chr(10)), '') AS ct FROM base), met AS (SELECT doc_id, ct, CASE WHEN len(ct) = 0 THEN CAST(0 AS BIGINT) ELSE CAST(len(string_split(ct, chr(10))) AS BIGINT) END AS n_kept, CAST(len(regexp_extract_all(ct, '[.!?]')) AS BIGINT) AS n_sentences, contains(lower(ct), 'lorem ipsum') AS has_lorem, contains(ct, '{') AS has_brace, regexp_matches(lower(ct), '$badPat') AS has_bad_word FROM kk) SELECT d.doc_id, m.ct AS clean_text, m.n_kept, m.n_sentences, m.has_lorem, m.has_brace, m.has_bad_word, CASE WHEN d.text IS NULL THEN TRUE ELSE m.n_sentences >= ${cfg.minSentences} AND NOT m.has_lorem AND NOT m.has_brace AND NOT m.has_bad_word END AS keep FROM docs d LEFT JOIN met m USING (doc_id) ORDER BY d.doc_id"""
  }

  // ---- l45 content-coded plant: a real-crawl response record whose
  // body arrives gzip'd under Content-Encoding (VERDICT r18 #3). Built
  // once driver-side; the record bytes feed the Spark fixture and the
  // BLOCK length feeds the oracle literal — both derive from the same
  // deterministic JDK gzip in the same JVM, so the two sides cannot
  // drift. ----

  private val L45CeUrl = "http://ce.example.com/p"
  private val L45CeText = "a content-coded page body"
  private lazy val l45CeBlock: Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    g.write(L45CeText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    g.close()
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: gzip\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8) ++ bo.toByteArray
  }
  private lazy val l45CeRecordBlockLen: Int = l45CeBlock.length
  private lazy val l45CeRecord: Array[Byte] = graft.sources.Warc.writeRecord(
    "response", L45CeUrl, "application/http; msgtype=response", l45CeBlock)

  // ---- l46g fixed-vocabulary Viterbi differential (VERDICT r18 #4):
  // the l46b/e/f oracles pin character conservation, which a
  // wrong-but-conserving segmentation passes; this row pins the
  // SEGMENTATION itself. The piece table is a hand-fixed literal (the
  // apply path under test — viterbi — is identical for trained and
  // literal models), shared verbatim with the oracle, which re-runs
  // the Viterbi DP in DuckDB as unrolled CTE steps (the l39/l42/l43
  // restate-the-algorithm discipline): per word, position k's best
  // (score, path) comes from the ≤maxPieceLen previous positions, max
  // score with ties to the longest last piece (smallest j) — the
  // engine's exact tie rule. Words are capped at 12 code points so
  // the unroll is bounded; the cap is applied identically on both
  // sides. Scores are exact BIGINT micro-lns; the compared columns
  // are the piece string itself, the piece count, and the path score.
  // A tie-plant ("ab" scored exactly q(a)+q(b)) keeps the tie rule
  // load-bearing on every corpus. ----

  private val L46gMaxPieceLen = 3
  private val L46gWordCap = 12
  private val L46gQUnk = -30000000L
  private[graft] val L46gPieces: Seq[(String, Long)] = {
    val singles = ('a' to 'z').map(c =>
      c.toString -> (-3000000L - 50000L * (c - 'a')))
    val multi = Seq(
      "th" -> -2500000L, "he" -> -2600000L, "in" -> -2700000L,
      "er" -> -2800000L, "an" -> -2900000L, "re" -> -3000000L,
      "on" -> -3050000L, "at" -> -3100000L, "en" -> -3150000L,
      "nd" -> -3200000L, "ti" -> -3250000L, "es" -> -3300000L,
      "or" -> -3350000L, "te" -> -3400000L, "ed" -> -3450000L,
      "is" -> -3500000L, "it" -> -3550000L, "al" -> -3600000L,
      "the" -> -3700000L, "ing" -> -3800000L, "and" -> -3900000L,
      "ion" -> -4000000L, "ent" -> -4100000L, "for" -> -4200000L,
      "ati" -> -4300000L, "ter" -> -4400000L,
      // EXACT tie with a+b (-3000000 + -3050000): the longer piece
      // must win wherever "ab" occurs — the tie rule stays observable
      "ab" -> -6050000L)
    singles ++ multi
  }
  private[graft] lazy val l46gModel = graft.operators.Unigram.Model(
    L46gPieces.toMap, L46gMaxPieceLen, L46gQUnk)

  /** Planted words UNIONed into the word universe on both sides — the
    * documents fixture has ~31 distinct tokens, too few to exercise the
    * vocabulary: these force the "ab" exact tie, overlapping-piece
    * choices, the UNK route (digits, accents, CJK), the 12-code-point
    * cap (both engines must truncate identically), and a supplementary
    * character inside a word (code-point substr on both sides). */
  private val L46gPlantWords = Seq(
    "ab", "aab", "abab", "abandonment", "theatre", "threading",
    "internationalization", "forentity", "attrition", "presenting",
    "zzzz", "xy9q", "a🌍b", "éclair", "中文ab", "ingesting", "tition",
    "andandand", "entente", "tertiary")

  /** The DuckDB restatement of [[graft.operators.Unigram.viterbi]]
    * over the [[L46gPieces]] literal: generated, not hand-unrolled. */
  private[graft] lazy val l46gOracleSql: String = {
    val k = L46gWordCap
    val vocabValues = L46gPieces.map { case (p, q) =>
      s"('$p', CAST($q AS BIGINT))" }.mkString(", ")
    def cands(i: Int): String = (math.max(0, i - L46gMaxPieceLen) until i)
      .map { j =>
        s"SELECT b.word, $j AS j, b.score, b.n, b.seg, substr(b.word, ${j + 1}, ${i - j}) AS sub FROM b$j b WHERE length(b.word) >= $i"
      }.mkString(" UNION ALL ")
    val steps = (1 to k).map { i =>
      s"b$i AS (SELECT word, score, n, seg FROM (SELECT c.word, c.j, c.score + COALESCE(v.q, CASE WHEN length(c.sub) = 1 THEN CAST($L46gQUnk AS BIGINT) END) AS score, c.n + 1 AS n, CASE WHEN c.j = 0 THEN c.sub ELSE c.seg || '|' || c.sub END AS seg FROM (${cands(i)}) c LEFT JOIN vocab v ON v.piece = c.sub) x WHERE score IS NOT NULL QUALIFY row_number() OVER (PARTITION BY word ORDER BY score DESC, j ASC) = 1)"
    }.mkString(", ")
    val finals = (1 to k).map(i =>
      s"SELECT word, n, seg, score FROM b$i WHERE length(word) = $i")
      .mkString(" UNION ALL ")
    val plantList = L46gPlantWords.map(w => s"'$w'").mkString(", ")
    s"WITH toks AS (SELECT unnest($tokensSql) AS token FROM documents WHERE text IS NOT NULL UNION ALL SELECT unnest([$plantList]) AS token), words AS (SELECT DISTINCT substr(token, 1, $k) AS word FROM toks WHERE len(token) > 0), vocab AS (SELECT * FROM (VALUES $vocabValues) AS t(piece, q)), b0 AS (SELECT word, CAST(0 AS BIGINT) AS score, CAST(0 AS BIGINT) AS n, CAST('' AS VARCHAR) AS seg FROM words), $steps SELECT word, n AS n_pieces, seg AS pieces, score AS q_total FROM ($finals) ORDER BY word"
  }

  // ---- l46h byte-fallback plant: text whose characters the trained
  // vocabulary has never seen (accented Latin, CJK, a supplementary
  // emoji) — apply must stay total over the fixed vocabulary and the
  // decode must restore the text (VERDICT r18 #6). The oracle literal
  // is derived from the same Scala constant, so the sides cannot
  // drift. ----
  private val L46hPlantText = "café résumé 中文 🌍 naïve"
  private val L46hPlantStripped = L46hPlantText.replaceAll("\\s", "")

  // ---- l42 language-ID fixture + oracle (the l39 retrain-differential
  // pattern, one-vs-rest over char bigrams) ----

  private val Abc = "abcdefghijklmnopqrstuvwxyz"
  /** Per-language character permutations: the corpus texts share one
    * vocabulary regardless of their `lang` tag, so separable
    * "languages" are SYNTHESIZED deterministically — es = reversed
    * alphabet (the l39 involution), zh = shift-by-one. Char-bigram
    * statistics differ completely between the three, which is exactly
    * the fastText/CCNet feature signal. */
  private val LangPerms = Seq("es" -> Abc.reverse, "zh" -> (Abc.tail + Abc.head))
  private val LangIdLangs = Seq("en", "es", "zh")

  private def langFixture(s: SparkSession, d: String): DataFrame = {
    val perm = LangPerms.foldLeft(when(lit(false), col("text"))) {
      case (acc, (l, p)) => acc.when(col("lang") === l, translate(col("text"), Abc, p))
    }.otherwise(col("text"))
    Tables.documents(s, d)
      .where(col("lang").isin(LangIdLangs: _*))
      .select(col("doc_id"), col("lang"), perm.as("text"))
  }

  private val langFixtureSql: String = {
    val cases = LangPerms.map { case (l, p) =>
      s"WHEN lang = '$l' THEN translate(text, '$Abc', '$p')"
    }.mkString(" ")
    s"SELECT doc_id AS id, lang, CASE $cases ELSE text END AS text FROM documents WHERE lang IN (${LangIdLangs.map("'" + _ + "'").mkString(", ")})"
  }

  /** One one-vs-rest head's CTE chain (the l39 unrolled two-epoch GD,
    * label = (lang == `l`), suffix-disambiguated) — emits p_`l` with
    * the head's integer micro-probability per doc. */
  private def langHeadSql(l: String, dim: Int): String = {
    val y = s"(CASE WHEN l.lang = '$l' THEN 1 ELSE 0 END)"
    s"e1_$l AS (SELECT l.id, CAST(500000 - $y*1000000 AS BIGINT) AS err FROM lab l), " +
      s"w1_$l AS (SELECT fb, -CAST(round(0.5 * SUM(err*fx) / MAX(nn.n)) AS BIGINT) AS w FROM feat JOIN e1_$l USING (id) CROSS JOIN nn GROUP BY fb), " +
      s"b1_$l AS (SELECT -CAST(round(0.5 * SUM(err) / MAX(nn.n)) AS BIGINT) AS b FROM e1_$l CROSS JOIN nn), " +
      s"s2_$l AS (SELECT f.id, SUM(f.fx * COALESCE(w.w, 0)) AS z FROM feat f LEFT JOIN w1_$l w USING (fb) GROUP BY 1), " +
      s"e2_$l AS (SELECT l.id, CAST(round(1000000.0 / (1.0 + exp(-CAST(COALESCE(s.z, 0) + b.b AS DOUBLE) / 1000000.0))) AS BIGINT) - $y*1000000 AS err FROM lab l LEFT JOIN s2_$l s USING (id) CROSS JOIN b1_$l b), " +
      s"w2_$l AS (SELECT fb, MAX(w.w) - CAST(round(0.5 * SUM(e.err*feat.fx) / MAX(nn.n)) AS BIGINT) AS w FROM feat JOIN e2_$l e USING (id) JOIN w1_$l w USING (fb) CROSS JOIN nn GROUP BY fb), " +
      s"b2_$l AS (SELECT MAX(b.b) - CAST(round(0.5 * SUM(err) / MAX(nn.n)) AS BIGINT) AS b FROM e2_$l CROSS JOIN b1_$l b CROSS JOIN nn), " +
      s"sf_$l AS (SELECT f.id, SUM(f.fx * w.w) AS z FROM feat f JOIN w2_$l w USING (fb) GROUP BY 1), " +
      s"p_$l AS (SELECT t.id, CASE WHEN t.text IS NULL THEN NULL ELSE CAST(round(1000000.0 / (1.0 + exp(-CAST(COALESCE(s.z, 0) + b.b AS DOUBLE) / 1000000.0))) AS BIGINT) END AS p FROM train t LEFT JOIN sf_$l s ON t.id = s.id CROSS JOIN b2_$l b)"
  }

  // ---- l43 DSIR helpers (Xie et al. 2023 restated in DuckDB) ----

  /** The portable ring value of an id expression, as a double strictly
    * inside (0,1) — the Gumbel draw's `u` ([[graft.operators.Dsir]]). */
  private def ringUSql(idExpr: String): String =
    s"((($idExpr % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 + 0.5) / 2147483648.0"

  /** Feature rows of one docs relation (`src` must expose `id`, `text`
    * with text NOT NULL, plus the columns named in `carry`): word
    * unigrams ∪ bigrams, each hashed by the portable polynomial fold
    * mod `dim` — the DSIR hashed-n-gram space. */
  private def dsirFeatSql(src: String, dim: Int,
      carry: Seq[String] = Nil): String = {
    val ks = ("id" +: carry).mkString(", ")
    s"(SELECT $ks, fb, COUNT(*) AS fx FROM (SELECT $ks, CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(generate_series(1, len(f)), j -> CAST(ascii(substr(f, j, 1)) AS BIGINT))), (a, v) -> (a*31 + v) % 1000003) % $dim AS INTEGER) AS fb FROM (SELECT $ks, unnest(fs) AS f FROM (SELECT $ks, ts || list_transform(generate_series(1, greatest(len(ts)-1, 0)), i -> array_to_string(ts[i:i+1], ' ')) AS fs FROM (SELECT $ks, $tokensSql AS ts FROM $src)))) GROUP BY ALL)"
  }

  /** Shared λ CTE chain: Laplace-smoothed quantized log-ratios from
    * `cp`/`cq` bucket-count CTEs (must exist upstream as (fb, c)). */
  private def dsirLambdaSql(dim: Int): String =
    s"tot AS (SELECT (SELECT SUM(c) FROM cp) AS np, (SELECT SUM(c) FROM cq) AS nq), " +
      s"bk AS (SELECT fb FROM cp UNION SELECT fb FROM cq), " +
      s"lam AS (SELECT bk.fb, CAST(round((ln((COALESCE(p.c, 0) + 1.0) / (t.np + $dim)) - ln((COALESCE(q.c, 0) + 1.0) / (t.nq + $dim))) * 1000000) AS BIGINT) AS l FROM bk LEFT JOIN cp p USING (fb) LEFT JOIN cq q USING (fb) CROSS JOIN tot t), " +
      s"l0 AS (SELECT CAST(round((ln(1.0 / (np + $dim)) - ln(1.0 / (nq + $dim))) * 1000000) AS BIGINT) AS l FROM tot)"

  /** The l43 DuckDB oracle: retrain both hashed-n-gram models from
    * scratch (target = id%5==0, raw = the rest), re-derive every
    * quantized λ, per-doc log-weight (explode + regroup — the
    * cross-strategy counterpart of Spark's per-row map fold), the
    * deterministic ring Gumbel draw, and top-k membership via a rank
    * window. Zero-feature docs score 0 (the fold's init), NULL text
    * scores NULL and is never selected. */
  private val dsirOracleSql: String = {
    val dim = 256
    val feat = dsirFeatSql(
      "(SELECT doc_id AS id, text FROM documents WHERE text IS NOT NULL)",
      dim)
    val gum = s"CAST(round(-ln(-ln(${ringUSql("d.id")})) * 1000000) AS BIGINT)"
    s"""WITH feat AS $feat, cp AS (SELECT fb, SUM(fx) AS c FROM feat WHERE id % 5 = 0 GROUP BY 1), cq AS (SELECT fb, SUM(fx) AS c FROM feat WHERE id % 5 <> 0 GROUP BY 1), ${dsirLambdaSql(dim)}, sc AS (SELECT f.id, SUM(f.fx * COALESCE(lam.l, l0.l)) AS s FROM feat f LEFT JOIN lam USING (fb) CROSS JOIN l0 GROUP BY 1), ky AS (SELECT d.id AS doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS lw, CAST(COALESCE(sc.s, 0) AS BIGINT) + $gum AS k FROM (SELECT doc_id AS id FROM documents WHERE text IS NOT NULL) d LEFT JOIN sc ON d.id = sc.id), rk AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS rn FROM ky) SELECT a.doc_id, ky.lw AS logw_micro, ky.k AS key_micro, COALESCE(rk.rn <= 100, FALSE) AS selected FROM documents a LEFT JOIN ky USING (doc_id) LEFT JOIN rk USING (doc_id) ORDER BY a.doc_id"""
  }

  /** The l43b DuckDB oracle: the contrast contract's violation count
    * recomputed through its own retrain — target = clean slice, raw =
    * held-out originals ∪ alphabet-permuted twins, pairs scored on
    * both sides. */
  private val dsirContrastOracleSql: String = {
    val dim = 1024
    val fixture = s"(SELECT doc_id AS id, text, 't' AS side FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0 UNION ALL SELECT doc_id AS id, text, 'h' AS side FROM documents WHERE text IS NOT NULL AND doc_id % 5 <> 0 UNION ALL SELECT doc_id AS id, translate(text, '$Abc', '${Abc.reverse}') AS text, 'g' AS side FROM documents WHERE text IS NOT NULL AND doc_id % 5 <> 0)"
    val feat = dsirFeatSql(fixture, dim, carry = Seq("side"))
    s"""WITH feat AS $feat, cp AS (SELECT fb, SUM(fx) AS c FROM feat WHERE side = 't' GROUP BY 1), cq AS (SELECT fb, SUM(fx) AS c FROM feat WHERE side <> 't' GROUP BY 1), ${dsirLambdaSql(dim)}, sc AS (SELECT f.id, f.side, SUM(f.fx * COALESCE(lam.l, l0.l)) AS s FROM feat f LEFT JOIN lam USING (fb) CROSS JOIN l0 WHERE f.side <> 't' GROUP BY 1, 2), hh AS (SELECT h.doc_id, CAST(COALESCE(sh.s, 0) AS BIGINT) AS lo, CAST(COALESCE(sg.s, 0) AS BIGINT) AS lg FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL AND doc_id % 5 <> 0) h LEFT JOIN (SELECT id, s FROM sc WHERE side = 'h') sh ON h.doc_id = sh.id LEFT JOIN (SELECT id, s FROM sc WHERE side = 'g') sg ON h.doc_id = sg.id) SELECT COUNT(*) FILTER (WHERE lo <= lg) AS violations, COUNT(*) AS n_pairs FROM hh"""
  }

  /** The l42 DuckDB oracle: retrain ALL one-vs-rest heads from scratch
    * over char-bigram hashed features (shared feat CTE — labels are
    * the only per-head difference) and re-derive the argmax routing
    * with the earliest-class tie-break. Spark scores via K per-row
    * map-literal folds; integer micro-probabilities AND the predicted
    * language must agree bit-for-bit. */
  private def langIdOracleSql(dim: Int): String = {
    val heads = LangIdLangs.map(langHeadSql(_, dim)).mkString(", ")
    // argmax fold, earliest class wins ties: best = l0; if p_l1 > best
    // then l1; if p_l2 > best then l2 — unrolled innermost-last
    def bestP(ls: Seq[String]): String = ls match {
      case Seq(one) => s"p_$one.p"
      case more => s"(CASE WHEN p_${more.last}.p > ${bestP(more.init)} THEN p_${more.last}.p ELSE ${bestP(more.init)} END)"
    }
    val pred = LangIdLangs.tail.reverse.zipWithIndex.map { case (l, i) =>
      val prior = LangIdLangs.take(LangIdLangs.size - 1 - i)
      s"WHEN p_$l.p > ${bestP(prior)} THEN '$l'"
    }.mkString(" ") + s" ELSE '${LangIdLangs.head}'"
    val joins = LangIdLangs.map(l => s"LEFT JOIN p_$l ON t.id = p_$l.id").mkString(" ")
    val inSet = LangIdLangs.map("'" + _ + "'").mkString(", ")
    s"""WITH train AS ($langFixtureSql), lab AS (SELECT id, lang FROM train WHERE text IS NOT NULL), nn AS (SELECT COUNT(*) AS n FROM lab), cg AS (SELECT id, unnest(list_transform(generate_series(1, len(lower(text)) - 1), i -> substr(lower(text), i, 2))) AS t FROM train WHERE text IS NOT NULL), fb0 AS (SELECT id, CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(generate_series(1, len(t)), j -> CAST(ascii(substr(t, j, 1)) AS BIGINT))), (a, v) -> (a*31 + v) % 1000003) % $dim AS INTEGER) AS fb FROM cg), feat AS (SELECT id, fb, COUNT(*) AS fx FROM fb0 GROUP BY 1, 2), $heads, sel AS (SELECT t.id AS doc_id, t.lang, ${LangIdLangs.map(l => s"p_$l.p AS p_$l").mkString(", ")}, greatest(${LangIdLangs.map(l => s"p_$l.p").mkString(", ")}) AS best_micro, CASE WHEN t.text IS NULL THEN NULL $pred END AS pred FROM train t $joins) SELECT doc_id, lang, ${LangIdLangs.map(l => s"p_$l").mkString(", ")}, best_micro, pred, CASE WHEN pred IS NULL THEN TRUE ELSE pred IN ($inSet) AND best_micro >= $LangIdFloorMicro END AS keep FROM sel ORDER BY doc_id"""
  }

  /** The CCNet-style confidence floor the l42 row restates (micro
    * units): a doc whose WINNING head sits below this is dropped even
    * when its argmax lands in the keep set. */
  private val LangIdFloorMicro = 900000L

  /** The l39/l39c DuckDB oracle: retrain the identical quantized LR
    * model as unrolled CTEs and rescore via explode + join + groupBy
    * (Spark scores via the per-row map-literal fold — a genuine
    * cross-strategy differential; the persisted row shares it, the
    * write->read round-trip being exact on the integer grid). */
  private val l39OracleSql =
    """WITH train AS (SELECT doc_id*2 AS id, text, 1 AS y FROM documents UNION ALL SELECT doc_id*2+1 AS id, translate(text, 'abcdefghijklmnopqrstuvwxyz', 'zyxwvutsrqponmlkjihgfedcba') AS text, 0 AS y FROM documents), lab AS (SELECT id, y FROM train WHERE text IS NOT NULL), nn AS (SELECT COUNT(*) AS n FROM lab), tok AS (SELECT id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS t FROM train WHERE text IS NOT NULL), fb0 AS (SELECT id, CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(generate_series(1, len(t)), i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))), (a, v) -> (a*31 + v) % 1000003) % 512 AS INTEGER) AS fb FROM tok), feat AS (SELECT id, fb, COUNT(*) AS fx FROM fb0 GROUP BY 1, 2), e1 AS (SELECT id, CAST(500000 - y*1000000 AS BIGINT) AS err FROM lab), w1 AS (SELECT fb, -CAST(round(0.5 * SUM(err*fx) / MAX(nn.n)) AS BIGINT) AS w FROM feat JOIN e1 USING (id) CROSS JOIN nn GROUP BY fb), b1 AS (SELECT -CAST(round(0.5 * SUM(err) / MAX(nn.n)) AS BIGINT) AS b FROM e1 CROSS JOIN nn), s2 AS (SELECT f.id, SUM(f.fx * COALESCE(w1.w, 0)) AS z FROM feat f LEFT JOIN w1 USING (fb) GROUP BY 1), e2 AS (SELECT l.id, CAST(round(1000000.0 / (1.0 + exp(-CAST(COALESCE(s2.z, 0) + b1.b AS DOUBLE) / 1000000.0))) AS BIGINT) - l.y*1000000 AS err FROM lab l LEFT JOIN s2 USING (id) CROSS JOIN b1), w2 AS (SELECT fb, MAX(w1.w) - CAST(round(0.5 * SUM(e2.err*feat.fx) / MAX(nn.n)) AS BIGINT) AS w FROM feat JOIN e2 USING (id) JOIN w1 USING (fb) CROSS JOIN nn GROUP BY fb), b2 AS (SELECT MAX(b1.b) - CAST(round(0.5 * SUM(err) / MAX(nn.n)) AS BIGINT) AS b FROM e2 CROSS JOIN b1 CROSS JOIN nn), sf AS (SELECT f.id, SUM(f.fx * w2.w) AS z FROM feat f JOIN w2 USING (fb) GROUP BY 1) SELECT t.id, t.y, CASE WHEN t.text IS NULL THEN NULL ELSE CAST(round(1000000.0 / (1.0 + exp(-CAST(COALESCE(sf.z, 0) + b2.b AS DOUBLE) / 1000000.0))) AS BIGINT) END AS p_micro FROM train t LEFT JOIN sf ON t.id = sf.id CROSS JOIN b2 ORDER BY t.id"""

  val defs: Seq[(String, Q, Option[String])] = Seq[(String, Q, Option[String])](

    // ---- L1: exact dedup — smallest doc_id survives per sha256(text) ----
    ("l01_exact_dedup", (s, d) => {
      Dedup.exact(withExactDups(s, d), "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""WITH aug AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0) SELECT doc_id FROM (SELECT doc_id, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn FROM aug) WHERE rn = 1 ORDER BY doc_id""")),

    // ---- L1b: incremental dedup — a "new batch" (every 3rd doc: exact
    // copies for even multiples, genuinely-new texts for odd) deduped
    // against the existing corpus. Only the fresh texts survive. The
    // oracle uses NOT EXISTS (NOT IN is NULL-poisonous) and isolates the
    // source columns in a subquery — DuckDB lateral aliases would
    // otherwise bind `doc_id` in the CASE to the shifted alias. ----
    ("l01b_incremental_dedup", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val newBatch = docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          when(col("doc_id") % 6 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" fresh"))).as("text"))
      Dedup.exactIncremental(newBatch, docs, "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""WITH nb AS (SELECT src + 300000 AS doc_id, CASE WHEN src % 6 = 0 THEN t ELSE t || ' fresh' END AS text FROM (SELECT doc_id AS src, text AS t FROM documents WHERE doc_id % 3 = 0)) SELECT doc_id FROM nb WHERE NOT EXISTS (SELECT 1 FROM documents dd WHERE dd.text = nb.text) ORDER BY doc_id""")),

    // ---- L1c: incremental dedup, broadcastable-batch form — the join
    // FLIPPED so the (100 TB) history side never shuffles: broadcast the
    // batch's hashes, semi-filter the history map-side, anti-join the
    // batch against the bounded survivor set. ZERO shuffle exchanges in
    // the whole plan (pinned in PlanSpec). Same batch/history split and
    // oracle as l01b — the two forms must agree exactly. ----
    ("l01c_incremental_probe", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val newBatch = docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          when(col("doc_id") % 6 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" fresh"))).as("text"))
      Dedup.exactIncrementalProbe(newBatch, docs, "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""WITH nb AS (SELECT src + 300000 AS doc_id, CASE WHEN src % 6 = 0 THEN t ELSE t || ' fresh' END AS text FROM (SELECT doc_id AS src, text AS t FROM documents WHERE doc_id % 3 = 0)) SELECT doc_id FROM nb WHERE NOT EXISTS (SELECT 1 FROM documents dd WHERE dd.text = nb.text) ORDER BY doc_id""")),

    // ---- L2: MinHash-LSH near-dup candidates (engine-specific banding;
    // rows-only — recall is property-tested against planted pairs) ----
    ("l02_minhash_near_dedup", (s, d) => {
      Dedup.nearDedupMinhash(withNearDups(s, d), "text", "doc_id", threshold = 0.8)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, None),

    // ---- L2h: INCREMENTAL near-dedup — a new batch's MinHash signatures
    // probe a PERSISTED bucketed band history (written once, zero
    // exchange on the history side of the probe — pinned in PlanSpec);
    // the continuous-ingest shape every production dedup pipeline runs.
    // Contract (the l02d pattern): history = the documents table, batch =
    // a near-dup variant of every doc_id % 7 == 0 doc; every planted
    // batch doc must pair with its history original at jaccard ≥ 0.8.
    // DuckDB independently counts the planted set. Uncapped buckets, as
    // in l02d: the skew cap deliberately trades recall. ----
    ("l02h_incremental_near_dedup", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val batch = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzextra")).as("text"))
      // rebuild from scratch each run: a PREVIOUS session's warehouse
      // directory would otherwise fail the managed-table create
      Dedup.BandHistory.drop(s, "l02h_hist")
      Dedup.writeBandHistory(docs, "text", "doc_id", "l02h_hist", numBuckets = 8)
      val cands = Dedup.minhashIncremental(s, batch, "l02h_hist", "text", "doc_id",
          maxBucket = Int.MaxValue)
        .where(col("jaccard") >= 0.8)
        .select(col("id_new"), col("id_hist"))
      val planted = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("id_new"), col("doc_id").as("id_hist"))
      planted.join(cands, Seq("id_new", "id_hist"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM documents WHERE doc_id % 7 = 0""")),

    // ---- L2h probe-only: the SAME contract as l02h against a
    // PRE-BUILT band history — l02h's bench row is build-dominated
    // (two bucketed writes per rep), which is the honest worst case but
    // hides probe regressions as persisted indexes multiply. This row
    // builds once per (session, SF) and times the probe alone — the
    // production steady state, where the history was written by
    // yesterday's ingest. Per-SF table names keep a pre-built index
    // from ever serving a different scale factor's data. ----
    ("l02h_probe_near_dedup", (s, d) => {
      val table = s"l02hp_hist_${sfTag(d)}"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // BOTH tables gated: a crash between writeBandHistory's two
      // writes would otherwise wedge the query on the missing _sh half
      if (!s.catalog.tableExists(table) ||
          !s.catalog.tableExists(s"${table}_sh")) {
        Dedup.BandHistory.drop(s, table) // orphaned location from a prior session
        Dedup.writeBandHistory(docs, "text", "doc_id", table, numBuckets = 8)
      }
      val batch = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzextra")).as("text"))
      val cands = Dedup.minhashIncremental(s, batch, table, "text", "doc_id",
          maxBucket = Int.MaxValue)
        .where(col("jaccard") >= 0.8)
        .select(col("id_new"), col("id_hist"))
      val planted = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("id_new"), col("doc_id").as("id_hist"))
      planted.join(cands, Seq("id_new", "id_hist"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM documents WHERE doc_id % 7 = 0""")),

    // ---- L2i: STREAMING-shape band-history ingest — the delta batch
    // lands in replay-overwritable batch-<id>/ subdirectories beside
    // the bucketed history (appendBandHistoryDelta: the accumulated
    // corpus is never read or rewritten on the hot path, the
    // appendToIvfDelta discipline); the probe surfaces every planted
    // near-dup through the main + delta legs, then compaction folds the
    // delta into both bucketed tables and the SAME probe still finds
    // them — both halves of the delta lifecycle in one recall contract
    // (the l04g sibling for the dedup index) ----
    ("l02i_band_delta_recall", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val hist = docs.where(col("doc_id") % 7 =!= 0)
      val arrived = docs.where(col("doc_id") % 7 === 0) // delta micro-batch
      val probe = arrived
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzextra")).as("text"))
      Dedup.BandHistory.drop(s, "l02i_hist") // also clears stale deltas
      Dedup.writeBandHistory(hist, "text", "doc_id", "l02i_hist", numBuckets = 8)
      Dedup.appendBandHistoryDelta(s, arrived, "text", "doc_id", "l02i_hist",
        batchId = 0)
      val planted = arrived
        .select((col("doc_id") + 200000).as("id_new"), col("doc_id").as("id_hist"))
      def missed(as: String) = planted.join(
          Dedup.minhashIncremental(s, probe, "l02i_hist", "text", "doc_id",
              maxBucket = Int.MaxValue)
            .where(col("jaccard") >= 0.8).select(col("id_new"), col("id_hist")),
          Seq("id_new", "id_hist"), "left_anti")
        .agg(count(lit(1)).as(as))
      // MATERIALIZED before compaction (the l04g lesson): the probe's
      // delta read resolves lazily at final analysis, after compaction
      // renamed the delta away — pin the 1-row result eagerly first
      val missedPre = missed("missed_delta").localCheckpoint(eager = true)
      Dedup.BandHistory.fold(s, "l02i_hist")
      missedPre.crossJoin(missed("missed_compacted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_delta, 0 AS missed_compacted, COUNT(*) AS n_planted FROM documents WHERE doc_id % 7 = 0""")),

    // ---- L2i probe-only: the delta-leg recall contract against a
    // PRE-BUILT history + UN-compacted delta (built once per session,
    // SF) — times the production steady state between compactions:
    // zero-exchange main probe + the small delta join. Every planted
    // original lives ONLY in the delta, so recall proves the delta leg,
    // not the main one. Lifecycle cost stays visible in l02i itself. ----
    ("l02i_probe_delta_dedup", (s, d) => {
      val table = s"l02ip_hist_${sfTag(d)}"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // BOTH tables gated — see l02h_probe
      if (!s.catalog.tableExists(table) ||
          !s.catalog.tableExists(s"${table}_sh")) {
        Dedup.BandHistory.drop(s, table) // orphaned location from a prior session
        Dedup.writeBandHistory(docs.where(col("doc_id") % 7 =!= 0),
          "text", "doc_id", table, numBuckets = 8)
        Dedup.appendBandHistoryDelta(s, docs.where(col("doc_id") % 7 === 0),
          "text", "doc_id", table, batchId = 0)
      }
      val batch = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzextra")).as("text"))
      val cands = Dedup.minhashIncremental(s, batch, table, "text", "doc_id",
          maxBucket = Int.MaxValue)
        .where(col("jaccard") >= 0.8)
        .select(col("id_new"), col("id_hist"))
      val planted = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("id_new"), col("doc_id").as("id_hist"))
      planted.join(cands, Seq("id_new", "id_hist"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM documents WHERE doc_id % 7 = 0""")),

    // ---- L2g: exact token-trigram Jaccard — the non-approximate member
    // of the dedup family (what MinHash estimates): set Jaccard over
    // distinct token 3-grams for each planted (original, near-copy) pair,
    // value-checked against DuckDB recomputing the same sets. ----
    ("l02g_ngram_jaccard", (s, d) => {
      // only the planted pairs participate — filter BEFORE shingling so
      // 6/7 of the corpus never pays tokenize+shingle (at 100 TB, exact
      // Jaccard is always a candidate-pair refinement, never a full-scan)
      val docs = Tables.documents(s, d).where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"))
      def shingles(df: DataFrame) = df
        .withColumn("__toks", TF.tokens(col("text")))
        .select(col("doc_id"), TF.shingleSetOfTokens(col("__toks"), 3).as("sh"))
      val a = shingles(docs)
      val b = shingles(docs.select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zzextra")).as("text")))
      a.as("a").join(b.as("b"), col("a.doc_id") + 200000 === col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          TF.jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
        .orderBy(col("id_a"))
    }, Some(s"""WITH t AS (SELECT doc_id, $tokensSql ts FROM documents WHERE doc_id % 7 = 0), p AS (SELECT doc_id, ts AS ta, list_append(ts, 'zzextra') AS tb FROM t), g AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(ta)-2, 0)), i -> array_to_string(ta[i:i+2], ' '))) sa, list_distinct(list_transform(generate_series(1, greatest(len(tb)-2, 0)), i -> array_to_string(tb[i:i+2], ' '))) sb FROM p) SELECT doc_id AS id_a, doc_id + 200000 AS id_b, CASE WHEN len(list_distinct(sa || sb)) = 0 THEN 0.0 ELSE CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(list_distinct(sa || sb)) END AS jaccard FROM g ORDER BY id_a""")),

    // ---- L2b: SimHash candidates via rotated band bucketing ----
    ("l02b_simhash_candidates", (s, d) => {
      Dedup.simhashCandidates(withNearDups(s, d), "text", "doc_id", maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming_dist"))
        .orderBy(col("id_a"), col("id_b"))
    }, None),

    // ---- L2d: MinHash recall contract — every planted near-dup pair
    // must surface as a candidate with verified jaccard ≥ 0.8; the
    // banding arithmetic is engine-side, but "zero planted pairs missed"
    // is an exact oracle-checkable statement ----
    ("l02d_minhash_planted_recall", (s, d) => {
      val aug = withNearDups(s, d)
      // maxBucket=MaxValue: this query exists to verify banding recall,
      // and the skew cap deliberately trades recall in degenerate
      // buckets — capping here would make the 0-missed oracle unsound
      val cands = Dedup.minhashCandidates(aug, "text", "doc_id",
          maxBucket = Int.MaxValue)
        .where(col("jaccard") >= 0.8)
        .select(col("id_a"), col("id_b"))
      val planted = Tables.documents(s, d).where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 200000).as("id_b"))
      planted.join(cands, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM documents WHERE doc_id % 7 = 0""")),

    // ---- L2e: SimHash pigeonhole contract — every planted pair whose
    // signatures are within maxDist=3 must appear in the banded
    // candidates (guaranteed by construction: 4 bands, maxDist < bands) ----
    ("l02e_simhash_guarantee", (s, d) => {
      val aug = withNearDups(s, d)
      // one signature pass feeds both the contract side and the banded
      // candidates; the frame appears in three plan branches (a-side,
      // b-side, banding) and is tiny (id, long) — localCheckpoint, not
      // cache: same materialize-once barrier, but the blocks are released
      // by the ContextCleaner when the result frame goes unreachable
      // instead of parking in the cache manager until session end
      val sigs = aug.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
        .localCheckpoint(eager = true)
      val withinDist = sigs.as("a").join(sigs.as("b"),
          col("a.doc_id") + 200000 === col("b.doc_id"))
        .where(Dedup.hamming(col("a.sig"), col("b.sig")) <= 3)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      // uncapped for the same reason as l02d: the pigeonhole guarantee
      // only holds without the skew cap
      val cands = Dedup.simhashCandidatesOfSigs(sigs, "doc_id", "sig",
          maxDist = 3, maxBucket = Int.MaxValue)
        .select(col("id_a"), col("id_b"))
      withinDist.join(cands, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("missed_within_dist"))
    }, Some("""SELECT 0 AS missed_within_dist""")),

    // ---- L2c: embedding-cosine near-dup pairs (planted exact copies) ----
    ("l02c_embedding_near_dups", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val aug = emb.unionByName(emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDups(aug, "embedding", "vec_id", nPlanes = 8, threshold = 0.95)
        .select(col("id_a"), col("id_b")).orderBy(col("id_a"), col("id_b"))
    }, None),

    // ---- L2f: embedding near-dup recall contract — every planted exact
    // copy (identical vector ⇒ identical hyperplane signature ⇒ same
    // bucket, cosine 1.0) must surface as a pair. Bucketing arithmetic is
    // engine-side, but "zero planted copies missed" is oracle-checkable;
    // DuckDB independently counts the planted set. Uncapped buckets, like
    // l02d/l02e: the skew cap deliberately trades recall, which would
    // make the 0-missed oracle unsound. Verified at sf0.01: no zero-norm
    // vectors in the table (a zero vector scores NaN, which the operator's
    // NaN guard excludes from pairs — its planted copy would be missed). ----
    ("l02f_embedding_planted_recall", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val aug = emb.unionByName(emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val cands = Dedup.embeddingNearDups(aug, "embedding", "vec_id",
          nPlanes = 8, threshold = 0.95, maxBucket = Int.MaxValue)
        .select(col("id_a"), col("id_b"))
      val planted = emb.where(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("id_a"), (col("vec_id") + 100000).as("id_b"))
      planted.join(cands, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM embeddings WHERE vec_id % 10 = 0""")),

    // ---- L3: pairwise cosine on the quantized grid (adjacent-id pairs) ----
    ("l03_cosine_pairs", (s, d) => {
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), VF.quantize(col("embedding"), QSCALE).as("qv"))
      q.as("a").join(q.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          VF.cosineQ(col("a.qv"), col("b.qv")).as("cos_sim"))
        .orderBy(col("id_a"))
    }, Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosQSql("a.embedding", "b.embedding")} AS cos_sim FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1 ORDER BY id_a""")),

    // ---- L3b: native codegen'd cosine expression (cosine_f32 via
    // SparkSessionExtensions) — same adjacent-pair shape as l03; the
    // sequential-double-loop semantics are reproducible in DuckDB ----
    ("l03b_cosine_native", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      emb.as("a").join(emb.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          VF.cosineNative(col("a.embedding"), col("b.embedding")).as("cos_sim"))
        .orderBy(col("id_a"))
    }, Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings) SELECT a.vec_id AS id_a, b.vec_id AS id_b, list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos_sim FROM e a JOIN e b ON b.vec_id = a.vec_id + 1 ORDER BY id_a""")),

    // ---- L4: brute-force top-k similarity search (quantized scores) ----
    ("l04_topk_search", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.bruteForceTopKQ(queries, emb, k = 10)
        .select(col("q_id"), col("vec_id"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }, Some(s"""SELECT q_id, vec_id, rank FROM (SELECT q.q_id, e.vec_id, row_number() OVER (PARTITION BY q.q_id ORDER BY ${cosQSql("q.q_vec", "e.embedding")} DESC, e.vec_id) rank FROM (SELECT vec_id q_id, embedding q_vec FROM embeddings WHERE vec_id < 5) q, embeddings e) WHERE rank <= 10 ORDER BY q_id, rank""")),

    // ---- L4b: ANN top-k via hyperplane-LSH buckets (approximate by
    // design → rows-only; recall vs brute force is unit-tested) ----
    ("l04b_ann_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.annTopK(queries, emb, k = 10, nPlanes = 6)
        .select(col("q_id"), col("vec_id"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }, None),

    // ---- L4c: IVF ANN top-k (coarse-quantizer lists, nProbe probing;
    // approximate by design → rows-only; recall is unit-tested) ----
    ("l04c_ivf_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfTopK(queries, emb, k = 10, nLists = 16, nProbe = 4)
        .select(col("q_id"), col("vec_id"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }, None),

    // ---- L4d: IVF recall contract — plant an exact copy of each query
    // vector in the corpus; an identical vector assigns to exactly the
    // list the query probes first (same centroids, same tie-break: the
    // nearest-list fold and the probe sort are both earliest-index-wins),
    // and scores the maximal cosine — so every planted copy MUST appear
    // in its query's IVF top-k. "Zero planted copies missed" is the
    // oracle-checkable statement (the l02d/l02e/l02f pattern), closing
    // the gap where l04c was the only ANN path without an oracle-green
    // guarantee. DuckDB independently counts the planted set. ----
    ("l04d_ivf_planted_recall", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val aug = emb.unionByName(queries
        .select((col("q_id") + 500000).as("vec_id"), col("q_vec").as("embedding")))
      val top = Similarity.ivfTopK(queries, aug, k = 10, nLists = 16, nProbe = 4)
      val planted = queries.select(col("q_id"), (col("q_id") + 500000).as("vec_id"))
      planted.join(top.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM embeddings WHERE vec_id < 5""")),

    // ---- L4e: PERSISTED IVF index — the production shape (ivfTopK
    // rebuilds its quantizer per call; a deployment builds once and
    // amortizes): centroids + list-bucketed corpus persisted by
    // writeIvfIndex, probed by ivfTopKIndexed with the scan PRUNED to
    // the probed lists' bucket files (PlanSpec pins SelectedBucketsCount).
    // Same planted-copy guarantee as l04d — identical vector, identical
    // deterministic quantizer, so every planted copy MUST surface. ----
    ("l04e_ivf_indexed_recall", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val aug = emb.unionByName(queries
        .select((col("q_id") + 500000).as("vec_id"), col("q_vec").as("embedding")))
      Similarity.dropIvfIndex(s, "l04e_ivf") // cross-session idempotence
      Similarity.writeIvfIndex(s, aug, "l04e_ivf", nLists = 16, lloydIters = 1)
      val top = Similarity.ivfTopKIndexed(s, queries, "l04e_ivf", k = 10, nProbe = 4)
      val planted = queries.select(col("q_id"), (col("q_id") + 500000).as("vec_id"))
      planted.join(top.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM embeddings WHERE vec_id < 5""")),

    // ---- L4e probe-only: l04e's recall contract against a PRE-BUILT
    // persisted IVF index — built once per (session, SF), so the row
    // times what a deployment pays per query batch: centroid load,
    // bucket-pruned scan, broadcast score, top-k. The build cost stays
    // visible in l04e itself. ----
    ("l04e_probe_indexed_topk", (s, d) => {
      val table = s"l04ep_ivf_${sfTag(d)}"
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      if (!s.catalog.tableExists(table) ||
          !s.catalog.tableExists(s"${table}_centroids")) {
        Similarity.dropIvfIndex(s, table) // orphaned location from a prior session
        val aug = emb.unionByName(queries
          .select((col("q_id") + 500000).as("vec_id"), col("q_vec").as("embedding")))
        Similarity.writeIvfIndex(s, aug, table, nLists = 16, lloydIters = 1)
      }
      val top = Similarity.ivfTopKIndexed(s, queries, table, k = 10, nProbe = 4)
      val planted = queries.select(col("q_id"), (col("q_id") + 500000).as("vec_id"))
      planted.join(top.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM embeddings WHERE vec_id < 5""")),

    // ---- L4f: IVF index APPEND (continuous ingest) — planted copies
    // arrive in a later batch appended to the frozen quantizer and
    // folded into the bucketed main; the probe must surface every one
    // through the same bucket-pruned path, proving the appended rows
    // are first-class index citizens ----
    ("l04f_ivf_append_recall", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val base = emb.where(col("vec_id") % 7 =!= 3)
      val later = emb.where(col("vec_id") % 7 === 3).unionByName(queries
        .select((col("q_id") + 500000).as("vec_id"), col("q_vec").as("embedding")))
      Similarity.dropIvfIndex(s, "l04f_ivf") // cross-session idempotence
      Similarity.writeIvfIndex(s, base, "l04f_ivf", nLists = 16, lloydIters = 1)
      Similarity.appendToIvfDelta(s, later, "l04f_ivf", batchId = 0)
      Similarity.compactIvfDelta(s, "l04f_ivf")
      val top = Similarity.ivfTopKIndexed(s, queries, "l04f_ivf", k = 10, nProbe = 4)
      val planted = queries.select(col("q_id"), (col("q_id") + 500000).as("vec_id"))
      planted.join(top.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM embeddings WHERE vec_id < 5""")),

    // ---- L4g: STREAMING-shape IVF ingest — planted copies arrive as
    // delta micro-batches (appendToIvfDelta: each batch owns a replay-
    // overwritable delta subdirectory; the 100 TB main table is never
    // read or rewritten on the hot path); the probe surfaces every one
    // through the main ∪ delta union, then compaction folds the delta
    // into the bucketed main and the SAME probe still finds them —
    // both halves of the delta lifecycle in one recall contract ----
    ("l04g_ivf_delta_recall", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val base = emb.where(col("vec_id") % 7 =!= 3)
      val b0 = emb.where(col("vec_id") % 7 === 3)
      val b1 = queries
        .select((col("q_id") + 500000).as("vec_id"), col("q_vec").as("embedding"))
      Similarity.dropIvfIndex(s, "l04g_ivf") // cross-session idempotence
      Similarity.writeIvfIndex(s, base, "l04g_ivf", nLists = 16, lloydIters = 1)
      Similarity.appendToIvfDelta(s, b0, "l04g_ivf", batchId = 0)
      Similarity.appendToIvfDelta(s, b1, "l04g_ivf", batchId = 1)
      val planted = queries.select(col("q_id"), (col("q_id") + 500000).as("vec_id"))
      val pre = Similarity.ivfTopKIndexed(s, queries, "l04g_ivf", k = 10, nProbe = 4)
      // MATERIALIZED before compaction: the probe's delta-dir read is
      // lazy (Spark 4 defers ResolveDataSource to final analysis) while
      // compactIvfDelta below mutates storage eagerly at construction —
      // an unmaterialized `pre` would resolve a directory the compaction
      // already renamed away. Eager localCheckpoint pins the 1-row
      // result; the post-compaction probe is then free to re-plan.
      val missedPre = planted
        .join(pre.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .agg(count(lit(1)).as("missed_delta"))
        .localCheckpoint(eager = true)
      Similarity.compactIvfDelta(s, "l04g_ivf")
      val post = Similarity.ivfTopKIndexed(s, queries, "l04g_ivf", k = 10, nProbe = 4)
      val missedPost = planted
        .join(post.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .agg(count(lit(1)).as("missed_compacted"))
      missedPre.crossJoin(missedPost)
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_delta, 0 AS missed_compacted, COUNT(*) AS n_planted FROM embeddings WHERE vec_id < 5""")),

    // ---- L4h: IVF AGING lifecycle as a recall contract — the r10
    // measured-drift policy (ivfAging → reclusterIfDrifted) certified
    // end-to-end in the registry, not just in spec: build on two thirds
    // of the corpus, ingest the held-out third NEGATED (an orthant flip
    // scores far below the build-time tightness baseline against every
    // old centroid) plus planted exact copies of five drifted queries,
    // and let the MEASURED policy decide. The oracle pins all four
    // facts: the drift triggered a recluster (reclustered=1), every
    // planted copy is found by the indexed probe against the RETRAINED
    // quantizer (missed_planted=0 — the recall leg), and the baseline
    // was reset by the rebuild so an immediate re-check does NOT
    // trigger again (re_reclustered=0 — the no-flapping leg). ----
    ("l04h_recluster_recall", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val base = emb.where(col("vec_id") % 3 =!= 2)
      val drift = emb.where(col("vec_id") % 3 === 2)
        .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
      val queries = drift.where(col("vec_id") < 15)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val plantedVecs = queries
        .select((col("q_id") + 500000).as("vec_id"), col("q_vec").as("embedding"))
      val t = "l04h_ivf"
      Similarity.dropIvfIndex(s, t) // cross-session idempotence
      Similarity.writeIvfIndex(s, base, t, nLists = 16, lloydIters = 1)
      Similarity.appendToIvfDelta(s, drift.unionByName(plantedVecs), t, batchId = 0)
      // tau 0.01: the negated third measures a deterministic drift of
      // ~0.015-0.03 against these near-uniform synthetic embeddings
      // (built tightness only ~0.27 at sf0.1 — there is little cluster
      // structure to lose), while the post-recluster baseline reads
      // exactly 0 — both legs keep deterministic margin at every SF
      val (_, ran1) = Similarity.reclusterIfDrifted(s, t, tau = 0.01)
      val top = Similarity.ivfTopKIndexed(s, queries, t, k = 10, nProbe = 4)
      val planted = queries.select(col("q_id"), (col("q_id") + 500000).as("vec_id"))
      // materialized before the second policy check: were it to rebuild
      // (it must not), the lazy probe would re-plan over swapped storage
      val missed = planted
        .join(top.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .localCheckpoint(eager = true)
      val (_, ran2) = Similarity.reclusterIfDrifted(s, t, tau = 0.01)
      missed
        .select(lit(if (ran1) 1 else 0).as("reclustered"), col("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
        .withColumn("re_reclustered", lit(if (ran2) 1 else 0))
    }, Some("""SELECT 1 AS reclustered, 0 AS missed_planted, COUNT(*) AS n_planted, 0 AS re_reclustered FROM embeddings WHERE vec_id % 3 = 2 AND vec_id < 15""")),

    // ---- L4g probe-only: the delta-visibility recall contract against
    // a PRE-BUILT index + UN-compacted delta — the steady state between
    // compactions: centroid load, bucket-pruned main scan, the small
    // recursive delta read, broadcast score, top-k. Every planted copy
    // lives ONLY in the delta. Lifecycle cost stays in l04g itself. ----
    ("l04g_probe_delta_topk", (s, d) => {
      val table = s"l04gp_ivf_${sfTag(d)}"
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      if (!s.catalog.tableExists(table) ||
          !s.catalog.tableExists(s"${table}_centroids")) {
        Similarity.dropIvfIndex(s, table) // also clears a stale delta
        Similarity.writeIvfIndex(s, emb, table, nLists = 16, lloydIters = 1)
        Similarity.appendToIvfDelta(s, queries
          .select((col("q_id") + 500000).as("vec_id"), col("q_vec").as("embedding")),
          table, batchId = 0)
      }
      val top = Similarity.ivfTopKIndexed(s, queries, table, k = 10, nProbe = 4)
      val planted = queries.select(col("q_id"), (col("q_id") + 500000).as("vec_id"))
      planted.join(top.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM embeddings WHERE vec_id < 5""")),

    // ---- L5: text stats — counts, punctuation ratio, mean word length ----
    ("l05_text_stats", (s, d) => {
      // DataFrame-level form: one tokenizer pass per row (the scalar
      // column forms re-inline the token pipeline into each consumer)
      TF.withTextStats(Tables.documents(s, d), "text")
        .select(col("doc_id"), length(col("text")).as("n_chars2"),
          col("n_words"), col("punct_ratio"), col("mean_wlen"))
        .orderBy(col("doc_id"))
    }, Some(s"""WITH t AS (SELECT doc_id, text, $tokensSql ts FROM documents) SELECT doc_id, len(text) n_chars2, len(ts) n_words, CASE WHEN len(text)=0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)/len(text) END punct_ratio, CASE WHEN len(ts)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)/len(ts) END mean_wlen FROM t ORDER BY doc_id""")),

    // ---- L5b: language-ID heuristic (argmax stopword hits) ----
    ("l05b_langid", (s, d) => {
      // DataFrame-level form: tokens, per-language hits and the argmax
      // materialize once per row (the scalar langId expands to ~35
      // tokenizer copies — .explain-counted)
      TF.withLangId(Tables.documents(s, d), "text")
        .groupBy(col("pred_lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("pred_lang"))
    }, Some {
      val hits = TF.langStopwords.map { case (lang, sws) =>
        val list = sws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(ts, x -> list_contains($list, x))) h_$lang"
      }.mkString(", ")
      val langs = TF.langStopwords.map(_._1)
      val best = langs.map("h_" + _).mkString("greatest(", ",", ")")
      val cases = langs.dropRight(1).map(l => s"WHEN h_$l = $best THEN '$l'").mkString(" ")
      // IS NULL first: a NULL text yields NULL hit counts and a NULL
      // best, which must classify 'und' (as Spark does via `otherwise`),
      // not fall through every NULL comparison into the ELSE language
      s"""WITH t AS (SELECT doc_id, $tokensSql ts FROM documents), h AS (SELECT doc_id, $hits FROM t) SELECT CASE WHEN $best IS NULL OR $best = 0 THEN 'und' $cases ELSE '${langs.last}' END pred_lang, COUNT(*) n FROM h GROUP BY 1 ORDER BY pred_lang"""
    }),

    // ---- L5c: composite quality score + portable fingerprint ----
    ("l05c_quality", (s, d) => {
      TF.withQuality(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("quality"), col("fp"),
          TF.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy(col("doc_id"))
    }, Some(s"""WITH t AS (SELECT doc_id, text, $tokensSql ts FROM documents), m AS (SELECT doc_id, text, ts, CASE WHEN len(text)=0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)/len(text) END pr, CASE WHEN len(ts)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)/len(ts) END mwl FROM t) SELECT doc_id, round(least(CAST(len(text) AS DOUBLE)/400.0, 1.0)*0.5 + (1.0 - least(pr*5.0, 1.0))*0.3 + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)*0.2, 6) quality, list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(ts, x -> CAST(len(x) AS BIGINT) * 131 + ascii(x))), (acc, v) -> (acc * 31 + v) % 2147483647) fp, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) n_bpeish FROM m ORDER BY doc_id""")),

    // ---- L27: CCNet-style LM quality — char-bigram LM trained on the
    // held-out clean slice (doc_id % 3 = 0), every doc scored by mean
    // quantized ln P (NgramLm scaladoc: ln evaluated once per MODEL row
    // and snapped to the 1e-6 integer grid, so per-doc aggregation is
    // exact integer arithmetic both engines agree on). DuckDB retrains
    // the identical model and rescores from scratch — the whole
    // train+score pipeline is differential, not just the outputs. ----
    ("l27_perplexity", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val lm = graft.operators.NgramLm.trainCharBigram(
        docs.where(col("doc_id") % 3 === 0), "text")
      graft.operators.NgramLm.scoreDocs(docs, "text", "doc_id", lm)
        .select(col("doc_id"), col("n_big"), col("q_sum"), col("avg_logp"))
        .orderBy(col("doc_id"))
    }, Some("""WITH clean AS (SELECT text FROM documents WHERE doc_id % 3 = 0), bgx AS (SELECT unnest(list_transform(generate_series(1, len(text)-1), i -> substr(text, i, 2))) AS bg FROM clean), bc AS (SELECT bg, COUNT(*) c FROM bgx GROUP BY bg), v AS (SELECT COUNT(DISTINCT ch) + 1 AS v FROM (SELECT unnest([substr(bg,1,1), substr(bg,2,1)]) ch FROM bc)), cc AS (SELECT substr(bg,1,1) c1, SUM(c) cc FROM bc GROUP BY 1), bigm AS (SELECT bg, CAST(round(ln((c + 1.0)/(cc + v)) * 1000000) AS BIGINT) q FROM bc JOIN cc ON substr(bc.bg,1,1) = cc.c1 CROSS JOIN v), ctxm AS (SELECT c1, CAST(round(ln(1.0/(cc + v)) * 1000000) AS BIGINT) q0 FROM cc CROSS JOIN v), toks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(text)-1), i -> substr(text, i, 2))) AS bg FROM documents), sc AS (SELECT doc_id, SUM(COALESCE(bigm.q, ctxm.q0, (SELECT CAST(round(ln(1.0/v)*1000000) AS BIGINT) FROM v))) q_sum, COUNT(*) n_big FROM toks LEFT JOIN bigm USING (bg) LEFT JOIN ctxm ON substr(toks.bg,1,1) = ctxm.c1 GROUP BY doc_id) SELECT d.doc_id, COALESCE(sc.n_big, 0) AS n_big, CAST(sc.q_sum AS BIGINT) AS q_sum, CASE WHEN sc.n_big > 0 THEN CAST(sc.q_sum AS DOUBLE)/(sc.n_big*1000000) END AS avg_logp FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""")),

    // ---- L27c: CCNet-style perplexity BUCKETING — the step after
    // the LM score: head (lowest ppl) / middle / tail thirds, with
    // tercile thresholds drawn from the PORTABLE hash-ring sample
    // (l09's ring → both engines compute the identical sample, the
    // identical nearest-rank boundary rows, and therefore bit-identical
    // buckets; ties at a boundary break on id against the boundary
    // row's own id). Evidence-free docs land in 'unscored'. ----
    ("l27c_perplexity_buckets", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val lm = graft.operators.NgramLm.trainCharBigram(
        docs.where(col("doc_id") % 3 === 0), "text")
      val scored = graft.operators.NgramLm.scoreDocs(docs, "text", "doc_id", lm)
      graft.operators.NgramLm.perplexityBuckets(scored, "doc_id", ringPct = 20)
        .select(col("doc_id"), col("bucket")).orderBy(col("doc_id"))
    }, Some("""WITH clean AS (SELECT text FROM documents WHERE doc_id % 3 = 0), bgx AS (SELECT unnest(list_transform(generate_series(1, len(text)-1), i -> substr(text, i, 2))) AS bg FROM clean), bc AS (SELECT bg, COUNT(*) c FROM bgx GROUP BY bg), v AS (SELECT COUNT(DISTINCT ch) + 1 AS v FROM (SELECT unnest([substr(bg,1,1), substr(bg,2,1)]) ch FROM bc)), cc AS (SELECT substr(bg,1,1) c1, SUM(c) cc FROM bc GROUP BY 1), bigm AS (SELECT bg, CAST(round(ln((c + 1.0)/(cc + v)) * 1000000) AS BIGINT) q FROM bc JOIN cc ON substr(bc.bg,1,1) = cc.c1 CROSS JOIN v), ctxm AS (SELECT c1, CAST(round(ln(1.0/(cc + v)) * 1000000) AS BIGINT) q0 FROM cc CROSS JOIN v), toks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(text)-1), i -> substr(text, i, 2))) AS bg FROM documents), sc AS (SELECT doc_id, SUM(COALESCE(bigm.q, ctxm.q0, (SELECT CAST(round(ln(1.0/v)*1000000) AS BIGINT) FROM v))) q_sum, COUNT(*) n_big FROM toks LEFT JOIN bigm USING (bg) LEFT JOIN ctxm ON substr(toks.bg,1,1) = ctxm.c1 GROUP BY doc_id), sdoc AS (SELECT d.doc_id, COALESCE(sc.n_big, 0) AS n_big, CASE WHEN sc.n_big > 0 THEN CAST(sc.q_sum AS DOUBLE)/(sc.n_big*1000000) END AS avg_logp FROM documents d LEFT JOIN sc USING (doc_id)), samp AS (SELECT doc_id, avg_logp FROM sdoc WHERE n_big > 0 AND ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 % 100 < 20), r AS (SELECT doc_id, avg_logp, row_number() OVER (ORDER BY avg_logp, doc_id) rn, COUNT(*) OVER () n FROM samp), b1 AS (SELECT avg_logp a, doc_id di FROM r WHERE rn = (n + 2) // 3), b2 AS (SELECT avg_logp a, doc_id di FROM r WHERE rn = (2*n + 2) // 3) SELECT sdoc.doc_id, CASE WHEN sdoc.n_big = 0 THEN 'unscored' WHEN sdoc.avg_logp < b1.a OR (sdoc.avg_logp = b1.a AND sdoc.doc_id <= b1.di) THEN 'tail' WHEN sdoc.avg_logp < b2.a OR (sdoc.avg_logp = b2.a AND sdoc.doc_id <= b2.di) THEN 'middle' ELSE 'head' END AS bucket FROM sdoc CROSS JOIN b1 CROSS JOIN b2 ORDER BY sdoc.doc_id""")),

    // ---- L36: perplexity-bucket ROUTING (the CCNet keep rule) — the
    // intake-facing form of l27c: tercile thresholds drawn ONCE from
    // the ring sample (NgramLm.bucketThresholds — frozen boundary
    // rows), then a pure per-row CASE (NgramLm.bucketColumn, the
    // mixedIntakeBatch lmBuckets hot-loop shape) keeps head+middle and
    // evidence-free docs, drops the tail third. DuckDB restates the
    // whole train → score → boundary → CASE → keep-filter chain. ----
    ("l36_perplexity_route", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val lm = graft.operators.NgramLm.trainCharBigram(
        docs.where(col("doc_id") % 3 === 0), "text")
      val scored = graft.operators.NgramLm.scoreDocs(docs, "text", "doc_id", lm)
      val th = graft.operators.NgramLm.bucketThresholds(scored, "doc_id", ringPct = 20)
      scored.where(graft.operators.NgramLm.bucketColumn(
          col("avg_logp"), col("doc_id").cast("long"), col("n_big"), th)
        .isin("head", "middle", "unscored"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""WITH clean AS (SELECT text FROM documents WHERE doc_id % 3 = 0), bgx AS (SELECT unnest(list_transform(generate_series(1, len(text)-1), i -> substr(text, i, 2))) AS bg FROM clean), bc AS (SELECT bg, COUNT(*) c FROM bgx GROUP BY bg), v AS (SELECT COUNT(DISTINCT ch) + 1 AS v FROM (SELECT unnest([substr(bg,1,1), substr(bg,2,1)]) ch FROM bc)), cc AS (SELECT substr(bg,1,1) c1, SUM(c) cc FROM bc GROUP BY 1), bigm AS (SELECT bg, CAST(round(ln((c + 1.0)/(cc + v)) * 1000000) AS BIGINT) q FROM bc JOIN cc ON substr(bc.bg,1,1) = cc.c1 CROSS JOIN v), ctxm AS (SELECT c1, CAST(round(ln(1.0/(cc + v)) * 1000000) AS BIGINT) q0 FROM cc CROSS JOIN v), toks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(text)-1), i -> substr(text, i, 2))) AS bg FROM documents), sc AS (SELECT doc_id, SUM(COALESCE(bigm.q, ctxm.q0, (SELECT CAST(round(ln(1.0/v)*1000000) AS BIGINT) FROM v))) q_sum, COUNT(*) n_big FROM toks LEFT JOIN bigm USING (bg) LEFT JOIN ctxm ON substr(toks.bg,1,1) = ctxm.c1 GROUP BY doc_id), sdoc AS (SELECT d.doc_id, COALESCE(sc.n_big, 0) AS n_big, CASE WHEN sc.n_big > 0 THEN CAST(sc.q_sum AS DOUBLE)/(sc.n_big*1000000) END AS avg_logp FROM documents d LEFT JOIN sc USING (doc_id)), samp AS (SELECT doc_id, avg_logp FROM sdoc WHERE n_big > 0 AND ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 % 100 < 20), r AS (SELECT doc_id, avg_logp, row_number() OVER (ORDER BY avg_logp, doc_id) rn, COUNT(*) OVER () n FROM samp), b1 AS (SELECT avg_logp a, doc_id di FROM r WHERE rn = (n + 2) // 3), b2 AS (SELECT avg_logp a, doc_id di FROM r WHERE rn = (2*n + 2) // 3) SELECT doc_id FROM (SELECT sdoc.doc_id, CASE WHEN sdoc.n_big = 0 THEN 'unscored' WHEN sdoc.avg_logp < b1.a OR (sdoc.avg_logp = b1.a AND sdoc.doc_id <= b1.di) THEN 'tail' WHEN sdoc.avg_logp < b2.a OR (sdoc.avg_logp = b2.a AND sdoc.doc_id <= b2.di) THEN 'middle' ELSE 'head' END AS bucket FROM sdoc CROSS JOIN b1 CROSS JOIN b2) WHERE bucket IN ('head','middle','unscored') ORDER BY doc_id""")),

    // ---- L27b: perplexity CONTRAST contract — the l02d planted
    // pattern: every document's alphabet-permuted gibberish sibling
    // (a→z … z→a; letter bigram statistics scrambled, spaces kept) must
    // score strictly below the original under the clean-slice model.
    // Any doc containing a letter differs under the involution, so the
    // oracle states the pair count in closed form. ----
    ("l27b_perplexity_contrast", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val lm = graft.operators.NgramLm.trainCharBigram(
        docs.where(col("doc_id") % 3 === 0), "text")
      val gib = docs.select(col("doc_id"),
        translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
          "zyxwvutsrqponmlkjihgfedcba").as("text"))
      val so = graft.operators.NgramLm.scoreDocs(docs, "text", "doc_id", lm)
        .select(col("doc_id"), col("text"), col("n_big"),
          col("avg_logp").as("lp_orig"))
      val sg = graft.operators.NgramLm.scoreDocs(gib, "text", "doc_id", lm)
        .select(col("doc_id"), col("text").as("gib_text"),
          col("avg_logp").as("lp_gib"))
      val pairs = so.join(sg, Seq("doc_id"))
        .where(col("n_big") > 0 && col("text") =!= col("gib_text"))
      pairs.agg(
        count(when(col("lp_gib") >= col("lp_orig"), 1)).as("violations"),
        count(lit(1)).as("n_pairs"))
    }, Some("""SELECT 0 AS violations, COUNT(*) AS n_pairs FROM documents WHERE len(text) >= 2 AND regexp_matches(text, '[a-z]')""")),

    // ---- L6: token n-grams (distinct trigram count per doc; tokens
    // materialized first — see TextFunctions.ngramsOfTokens scale note) ----
    ("l06_ngrams", (s, d) => {
      Tables.documents(s, d)
        .withColumn("__toks", TF.tokens(col("text")))
        .select(col("doc_id"),
          size(col("__toks")).as("n_tokens"),
          size(TF.shingleSetOfTokens(col("__toks"), 3)).as("n_distinct_trigrams"))
        .orderBy(col("doc_id"))
    }, Some(s"""WITH t AS (SELECT doc_id, $tokensSql ts FROM documents) SELECT doc_id, len(ts) n_tokens, CASE WHEN len(ts) < 3 THEN 0 ELSE len(list_distinct(list_transform(generate_series(1, len(ts)-2), i -> array_to_string(ts[i:i+2], ' ')))) END n_distinct_trigrams FROM t ORDER BY doc_id""")),

    // ---- L6b: character trigrams (the other n-gram axis — used for
    // language-id features and fuzzy matching) ----
    ("l06b_char_ngrams", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(array_distinct(TF.charNgrams(col("text"), 3))).as("n_distinct_char3"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT doc_id, len(list_distinct(list_transform(generate_series(1, len(text)-2), i -> substr(text, i, 3)))) AS n_distinct_char3 FROM documents ORDER BY doc_id""")),

    // ---- L7: PII masking over deterministically injected emails/phones ----
    ("l07_mask_pii", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), concat(col("text"), lit(" contact user"),
          col("doc_id"), lit("@example.com or +1 (555) 0100-"), col("doc_id")).as("text"))
        .select(col("doc_id"), TF.maskPii(col("text")).as("masked"))
        .orderBy(col("doc_id"))
    }, Some("""WITH aug AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com or +1 (555) 0100-' || doc_id AS text FROM documents) SELECT doc_id, regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9][0-9 ()+-]{5,}[0-9]', '<PHONE>', 'g') masked FROM aug ORDER BY doc_id""")),

    // ---- L7b: the full Dolma PII pack — per-type detection counts
    // (email / phone / IPv4), the three-class mask, and the document
    // policy (PII-dense docs drop, survivors mask). Patterns live in
    // the java.regex ∩ RE2 common subset, so the oracle runs them
    // VERBATIM over the same deterministic fixture: every 7th doc
    // gains an email, phone, or IP; every doc_id % 7 == 3 gains a
    // PII-dense tail that must trip the keep policy. ----
    ("l07b_pii_pack", (s, d) => {
      val tail = when(col("doc_id") % 7 === 0,
          concat(lit(" reach user"), col("doc_id"), lit("@mail.example.org")))
        .when(col("doc_id") % 7 === 1,
          concat(lit(" call 555 01"), col("doc_id") % 90 + 10, lit(" 2214 now")))
        .when(col("doc_id") % 7 === 2,
          concat(lit(" host 10.0."), col("doc_id") % 250, lit(".7 up")))
        .when(col("doc_id") % 7 === 3,
          concat(lit(" a@x.io b@y.io c@z.io 555 0100 221 and 555 0188 440 d"),
            col("doc_id"), lit("@dense.example.org")))
        .otherwise(lit(""))
      Tables.documents(s, d)
        .select(col("doc_id"), concat(col("text"), tail).as("text"))
        .select(col("doc_id"), TF.piiCounts(col("text")).as("__c"),
          TF.piiKeeps(col("text"), maxPii = 4).as("keep"),
          TF.maskPiiAll(col("text")).as("masked"))
        .select(col("doc_id"), col("__c.n_email"), col("__c.n_phone"),
          col("__c.n_ip"), col("keep"), col("masked"))
        .orderBy(col("doc_id"))
    }, Some(raw"""WITH aug AS (SELECT doc_id, text || (CASE WHEN doc_id % 7 = 0 THEN ' reach user' || doc_id || '@mail.example.org' WHEN doc_id % 7 = 1 THEN ' call 555 01' || (doc_id % 90 + 10) || ' 2214 now' WHEN doc_id % 7 = 2 THEN ' host 10.0.' || (doc_id % 250) || '.7 up' WHEN doc_id % 7 = 3 THEN ' a@x.io b@y.io c@z.io 555 0100 221 and 555 0188 440 d' || doc_id || '@dense.example.org' ELSE '' END) AS text FROM documents), cnt AS (SELECT doc_id, text, CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, CAST(len(regexp_extract_all(text, '[0-9][0-9 ()+-]{5,}[0-9]')) AS BIGINT) AS n_phone, CAST(len(regexp_extract_all(text, '\b((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b')) AS BIGINT) AS n_ip FROM aug) SELECT doc_id, n_email, n_phone, n_ip, (text IS NULL OR n_email + n_phone + n_ip <= 4) AS keep, regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b', '<IP>', 'g'), '[0-9][0-9 ()+-]{5,}[0-9]', '<PHONE>', 'g') AS masked FROM cnt ORDER BY doc_id""")),

    // ---- L9: deterministic train/eval split — portable multiplicative
    // hash on the stable id, so the split is reproducible across runs,
    // engines and data growth (an eval doc never drifts into train) ----
    ("l09_hash_split", (s, d) => {
      graft.operators.Sampling.hashSplit(
          Tables.documents(s, d).select(col("doc_id")), "doc_id", trainPct = 80)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).cast("long").as("sum_id"))
        .orderBy(col("split"))
    }, Some("""WITH s AS (SELECT doc_id, CASE WHEN ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 % 100 < 80 THEN 'train' ELSE 'eval' END split FROM documents) SELECT split, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_id FROM s GROUP BY split ORDER BY split""")),

    // ---- L9b: deterministic fractional down-sample (same hash ring) ----
    ("l09b_hash_sample", (s, d) => {
      graft.operators.Sampling.hashSample(
          Tables.documents(s, d).select(col("doc_id")), "doc_id", keepPct = 10)
        .orderBy(col("doc_id"))
    }, Some("""SELECT doc_id FROM documents WHERE ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 % 100 < 10 ORDER BY doc_id""")),

    // ---- L9c: deterministic corpus shuffle — total order by the
    // portable ring key (rand(seed) re-deals on any repartition; this
    // order is reproducible across runs and engines). limit→
    // TakeOrderedAndProject: per-partition top-k, k-row merge ----
    ("l09c_det_shuffle", (s, d) => {
      graft.operators.Sampling.deterministicShuffle(
          Tables.documents(s, d).select(col("doc_id")), "doc_id")
        .limit(100)
    }, Some("""SELECT doc_id, ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 AS shuffle_key FROM documents ORDER BY shuffle_key, doc_id LIMIT 100""")),

    // ---- L18: corpus MIXTURE — the data-recipe step: N sources at
    // integer weights, small sources UPSAMPLED by whole epochs (epoch
    // column tags the copies), each rate's fractional remainder a
    // portable hash-ring cut. All-integer arithmetic (targets, epoch
    // split, ring cut), so DuckDB replays the exact kept multiset.
    // Scale: one bounded count per source, then pure projection +
    // filter + narrow explode — no shuffle, no window ----
    ("l18_corpus_mixture", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      def src(m: Int) = docs.where(pmod(col("doc_id"), lit(3)) === m)
      graft.operators.Sampling.mixCorpora(
          Seq((src(0), 2L, "web"), (src(1), 3L, "code"), (src(2), 5L, "books")),
          "doc_id", totalRows = 1000)
        .select(col("source"), col("epoch"), col("doc_id"),
          length(col("text")).as("n_chars"))
        .orderBy(col("source"), col("epoch"), col("doc_id"))
    }, Some("""WITH src AS (SELECT doc_id, text, CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'web' WHEN 1 THEN 'code' ELSE 'books' END AS source, CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 5 END AS w FROM documents), rates AS (SELECT source, COUNT(*) AS n, (1000 * ANY_VALUE(w)) // 10 AS target FROM src GROUP BY source), ep AS (SELECT s.source, s.doc_id, len(s.text) AS n_chars, (r.target // r.n) + (CASE WHEN ((s.doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 % 10000 < ((r.target % r.n) * 10000) // r.n THEN 1 ELSE 0 END) AS epochs FROM src s JOIN rates r USING (source)) SELECT source, CAST(unnest(generate_series(0, epochs - 1)) AS BIGINT) AS epoch, doc_id, n_chars FROM ep WHERE epochs > 0 ORDER BY source, epoch, doc_id"""))
,
    // ---- L19: text normalization — the pipeline's first cleaning
    // pass: NFC (native unicode_normalize expression; composed and
    // decomposed byte forms of the same glyphs unify), whitespace runs
    // collapse to single spaces, remaining control characters strip,
    // trim. Character classes spelled explicitly on both engines
    // (Java vs RE2 disagree on \s); value-checked against DuckDB's
    // utf8proc nfc_normalize ----
    ("l19_normalize_text", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TF.normalizeText(col("text")).as("norm"))
        .withColumn("n_norm", length(col("norm")).cast("long"))
        .orderBy(col("doc_id"))
    }, Some("""WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm FROM documents) SELECT doc_id, norm, CAST(len(norm) AS BIGINT) AS n_norm FROM n ORDER BY doc_id""")),

    // ---- L20: document chunking — fixed token windows with stride
    // (retrieval-index / long-document preprocessing): window k covers
    // tokens [k*8, k*8+16); overlapping so no phrase straddles a cut.
    // Tokens materialize once per doc, then one narrow explode — no
    // shuffle; DuckDB replays the window arithmetic exactly ----
    ("l20_chunk_documents", (s, d) => {
      graft.operators.Packing.chunkDocuments(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "text", "doc_id", chunkTokens = 16, stride = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    }, Some(s"""WITH t AS (SELECT doc_id, $tokensSql ts FROM documents), c AS (SELECT doc_id, unnest(generate_series(0, (len(ts) - 1) // 8)) AS chunk_id, ts FROM t WHERE len(ts) > 0) SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, CAST(chunk_id * 8 AS INT) AS chunk_start, CAST(len(list_slice(ts, chunk_id * 8 + 1, chunk_id * 8 + 16)) AS INT) AS n_chunk_tokens, array_to_string(list_slice(ts, chunk_id * 8 + 1, chunk_id * 8 + 16), ' ') AS chunk FROM c ORDER BY doc_id, chunk_id""")),

    // ---- L21: HTML-to-text intake — web corpora arrive as markup;
    // tags become spaces, script/style CONTENT drops, entities decode
    // (named + numeric), then the l19 normalize pass cleans whitespace.
    // Contract oracle: deterministic HTML is built AROUND each corpus
    // doc in the query itself (the corpus is markup-free, checked), so
    // DuckDB can state the expected cleaned text exactly ----
    ("l21_strip_html", (s, d) => {
      val html = concat(
        lit("""<html><head><style>p { color: red; }</style></head><body><!-- c --><p class="x">"""),
        col("text"),
        lit("""</p><script>var j = "<div>";</script>&amp;&#65;&#x42; end</body></html>"""))
      Tables.documents(s, d).select(col("doc_id"),
          TF.normalizeText(TF.stripHtml(html)).as("clean"))
        .withColumn("n_clean", length(col("clean")).cast("long"))
        .orderBy(col("doc_id"))
    }, Some("""WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text || ' &AB end'), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean FROM documents) SELECT doc_id, clean, CAST(len(clean) AS BIGINT) AS n_clean FROM n ORDER BY doc_id""")),

    // ---- L26: BOILERPLATE removal — the jusText-family block
    // classifier (TF.extractContent) between strip and normalize: each
    // corpus doc is wrapped in a deterministic page skeleton (link-only
    // nav menu, a link-dense footer with trailing copyright text, a
    // script body), and the planted contract is that the survivor text
    // is EXACTLY the normalized original document — the menu anchors
    // die on minChars, the footer (48 visible chars, 31 of them link
    // text) dies on link density, the script body never becomes text,
    // and the content block passes untouched. The expected outcome is
    // stated in closed form in SQL (the l24 pattern: the wrapper is
    // deterministic, so any fragment of it surviving — or any content
    // char lost — breaks the hash). ----
    ("l26_boilerplate", (s, d) => {
      val page = concat(
        lit("""<html><body><div class="nav"><ul><li><a href="/">Home</a></li><li><a href="/about">About us</a></li><li><a href="/contact">Contact</a></li></ul></div><div class="content"><p>"""),
        col("text"),
        lit("""</p></div><div class="footer"><a href="/tos">Terms of Service</a> <a href="/privacy">Privacy Policy</a> &#169; 2026 site</div><script>var nav = "<div>menu</div>";</script></body></html>"""))
      Tables.documents(s, d).select(col("doc_id"),
          TF.normalizeText(TF.stripHtml(TF.extractContent(page))).as("clean"))
        .withColumn("n_clean", length(col("clean")).cast("long"))
        .orderBy(col("doc_id"))
    }, Some("""WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean FROM documents) SELECT doc_id, clean, CAST(len(clean) AS BIGINT) AS n_clean FROM n ORDER BY doc_id""")),

    // ---- L22: the full INTAKE COMPOSITION — strip markup, normalize,
    // quality-score, threshold-filter, exact-dedup, token-count: the
    // standard web-corpus front half wired end-to-end from the proven
    // pieces (l21, l19, l05c, l01), with the whole chain restated in
    // SQL. One pass of per-row projections + the dedup's hash window —
    // nothing else shuffles ----
    ("l22_intake_pipeline", (s, d) => {
      val html = concat(lit("""<div class="doc"><p>"""), col("text"),
        lit("</p></div>"))
      // lazy barrier (r20): the pushed-down quality filter, exact()'s
      // two NULL-routing scans and the output projection otherwise each
      // carry their own copy of the strip→normalize chain (~4-5
      // evaluations per row); the checkpoint materializes `clean` once
      // inside the row's single job
      val cleaned = Tables.documents(s, d)
        .select(col("doc_id"), TF.normalizeText(TF.stripHtml(html)).as("clean"))
        .localCheckpoint(false)
      val scored = TF.withQualityOnly(cleaned, "clean")
        .where(col("quality") >= 0.75)
      Dedup.exact(scored, "clean", "doc_id")
        .select(col("doc_id"), col("quality"),
          TF.bpeishTokenCount(col("clean")).as("n_tok"))
        .orderBy(col("doc_id"))
    }, Some(s"""WITH c AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS clean FROM documents), t AS (SELECT doc_id, clean, list_filter(string_split_regex(lower(clean), '\\s+'), x -> len(x) > 0) ts FROM c), m AS (SELECT doc_id, clean, CASE WHEN len(clean)=0 THEN 0.0 ELSE CAST(len(clean) - len(regexp_replace(clean, '[.,!?;:]', '', 'g')) AS DOUBLE)/len(clean) END pr, CASE WHEN len(ts)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)/len(ts) END mwl FROM t), q AS (SELECT doc_id, clean, round(least(CAST(len(clean) AS DOUBLE)/400.0, 1.0)*0.5 + (1.0 - least(pr*5.0, 1.0))*0.3 + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)*0.2, 6) AS quality FROM m), f AS (SELECT doc_id, clean, quality FROM q WHERE quality >= 0.75), dd AS (SELECT doc_id, clean, quality FROM f QUALIFY row_number() OVER (PARTITION BY clean ORDER BY doc_id) = 1) SELECT doc_id, quality, len(regexp_extract_all(clean, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tok FROM dd ORDER BY doc_id""")),

    // ---- L22c: intake composition with BOTH round-12 front-half legs
    // on — boilerplate extraction AND the CCNet LM gate: page-wrapped
    // docs (nav/footer/script skeleton) where every 11th doc's text is
    // alphabet-permuted gibberish, run through extract → strip →
    // normalize → quality → LM-score ≥ -3.0 → exact dedup → token
    // count. The gibberish class passes the heuristic quality gate
    // (translate preserves length/punct/word shape — exactly the class
    // l05c-style heuristics CANNOT catch) and dies ONLY on the LM gate
    // (measured corpus scores ≥ -1.92, gibberish ≤ -5.07 — a 3-nat
    // margin around the threshold). DuckDB replays the ENTIRE chain:
    // closed-form extraction, quality arithmetic, LM retrain on the
    // normalized clean reference slice, integer-grid scoring. ----
    ("l22c_intake_quality_gate", (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val mixed = base.select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
            "zyxwvutsrqponmlkjihgfedcba"))
          .otherwise(col("text")).as("text"))
      val page = concat(
        lit("""<div class="nav"><ul><li><a href="/">Home</a></li><li><a href="/about">About us</a></li></ul></div><div class="content"><p>"""),
        col("text"),
        lit("""</p></div><div class="footer"><a href="/tos">Terms of Service</a> <a href="/privacy">Privacy Policy</a> &#169; 2026 site</div><script>var nav = "<div>menu</div>";</script>"""))
      // LAZY pre-barrier (r20): the quality filter below pushes its
      // condition under the projection, so without it the block-
      // classifier chain — the most expensive per-row expression in
      // the engine — evaluates once for the pushed filter and again
      // for the projected columns. The lazy checkpoint materializes
      // `clean` during the eager barrier's job (no extra job), and
      // both copies read the slot.
      val cleaned = mixed.select(col("doc_id"),
        TF.normalizeText(TF.stripHtml(TF.extractContent(page))).as("clean"))
        .localCheckpoint(false)
      // barrier: the interpreted block-classifier pipeline is the most
      // expensive per-row expression in the engine, and downstream it
      // is referenced by BOTH sides of the scoring join, the dedup
      // window and the token count — materialize once (the mixedIntakeBatch
      // exactNew rationale; measured ~2x on this row)
      val q = TF.withQualityOnly(cleaned, "clean")
        .where(col("quality") >= 0.75)
        .localCheckpoint(true)
      // the LM's clean reference corpus (CCNet's given target-domain
      // slice): normalized ORIGINALS, held-out third — never the
      // gibberish-injected stream itself. Trained ONCE per (session,
      // SF) and persisted (the l04e probe-row gate + the writeLm
      // "train once, score forever" production shape).
      val lmTable = s"l22c_lm_${sfTag(d)}"
      if (!graft.operators.NgramLm.lmExists(s, lmTable)) {
        graft.operators.NgramLm.dropLm(s, lmTable) // stale prior-session location
        graft.operators.NgramLm.writeLm(s,
          graft.operators.NgramLm.trainCharBigram(
            base.where(col("doc_id") % 3 === 0)
              .select(TF.normalizeText(col("text")).as("text")), "text"),
          lmTable)
      }
      val lm = graft.operators.NgramLm.readLm(s, lmTable)
      val gated = graft.operators.NgramLm.scoreDocs(q, "clean", "doc_id", lm)
        .where(col("avg_logp") >= -3.0)
      Dedup.exact(gated, "clean", "doc_id")
        .select(col("doc_id"), col("quality"), col("avg_logp"),
          TF.bpeishTokenCount(col("clean")).as("n_tok"))
        .orderBy(col("doc_id"))
    }, Some("""WITH mixed AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN translate(text, 'abcdefghijklmnopqrstuvwxyz', 'zyxwvutsrqponmlkjihgfedcba') ELSE text END AS text FROM documents), c AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean FROM mixed), t AS (SELECT doc_id, clean, list_filter(string_split_regex(lower(clean), '\s+'), x -> len(x) > 0) ts FROM c), m AS (SELECT doc_id, clean, CASE WHEN len(clean)=0 THEN 0.0 ELSE CAST(len(clean) - len(regexp_replace(clean, '[.,!?;:]', '', 'g')) AS DOUBLE)/len(clean) END pr, CASE WHEN len(ts)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)/len(ts) END mwl FROM t), qq AS (SELECT doc_id, clean, round(least(CAST(len(clean) AS DOUBLE)/400.0, 1.0)*0.5 + (1.0 - least(pr*5.0, 1.0))*0.3 + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)*0.2, 6) AS quality FROM m), qf AS (SELECT doc_id, clean, quality FROM qq WHERE quality >= 0.75), ref AS (SELECT trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS text FROM documents WHERE doc_id % 3 = 0), bgx AS (SELECT unnest(list_transform(generate_series(1, len(text)-1), i -> substr(text, i, 2))) AS bg FROM ref), bc AS (SELECT bg, COUNT(*) cnt FROM bgx GROUP BY bg), v AS (SELECT COUNT(DISTINCT ch) + 1 AS v FROM (SELECT unnest([substr(bg,1,1), substr(bg,2,1)]) ch FROM bc)), cc AS (SELECT substr(bg,1,1) c1, SUM(cnt) cc FROM bc GROUP BY 1), bigm AS (SELECT bg, CAST(round(ln((cnt + 1.0)/(cc + v)) * 1000000) AS BIGINT) q FROM bc JOIN cc ON substr(bc.bg,1,1) = cc.c1 CROSS JOIN v), ctxm AS (SELECT c1, CAST(round(ln(1.0/(cc + v)) * 1000000) AS BIGINT) q0 FROM cc CROSS JOIN v), toks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(clean)-1), i -> substr(clean, i, 2))) AS bg FROM qf), sc AS (SELECT doc_id, SUM(COALESCE(bigm.q, ctxm.q0, (SELECT CAST(round(ln(1.0/v)*1000000) AS BIGINT) FROM v))) q_sum, COUNT(*) n_big FROM toks LEFT JOIN bigm USING (bg) LEFT JOIN ctxm ON substr(toks.bg,1,1) = ctxm.c1 GROUP BY doc_id), g AS (SELECT qf.doc_id, qf.clean, qf.quality, CAST(sc.q_sum AS DOUBLE)/(sc.n_big*1000000) AS avg_logp FROM qf JOIN sc ON qf.doc_id = sc.doc_id WHERE sc.n_big > 0 AND CAST(sc.q_sum AS DOUBLE)/(sc.n_big*1000000) >= -3.0), dd AS (SELECT doc_id, clean, quality, avg_logp FROM g QUALIFY row_number() OVER (PARTITION BY clean ORDER BY doc_id) = 1) SELECT doc_id, quality, avg_logp, len(regexp_extract_all(clean, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tok FROM dd ORDER BY doc_id""")),

    // ---- L22b: intake composition + NEAR-dedup leg — real web intake
    // chains exact AND near dedup; this row adds the cluster-resolved
    // stage (minhashCandidates → connected components → keep each
    // cluster's min id) to the l22 chain, with a planted-near-dup
    // contract (the l02g/l02h pattern): every planted near-copy whose
    // original also passed the quality gate must be dropped. The claim
    // is robust to any NATURAL near-dups the corpus might hold — the
    // copy is directly connected to its original, so the copy (larger
    // id) can never be its cluster's minimum while the original is
    // present, whatever else joins the cluster. DuckDB counts the
    // planted set by replaying the quality arithmetic on both texts. ----
    ("l22b_intake_near_dedup", (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val aug = base.unionByName(base.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzextra")).as("text")))
      val html = concat(lit("""<div class="doc"><p>"""), col("text"),
        lit("</p></div>"))
      // barriers (the mixedIntakeBatch exactNew rationale, r19 plan audit):
      // the LSH stage references its input FOUR times (banded
      // signatures, both shingle join-backs, the CC node list) and the
      // planted arithmetic reads `scored` twice more — without the
      // barriers the strip→normalize→quality chain and the dedup window
      // replan under every reference (the committed before-plan carries
      // the chain 6×). Both frames are batch-sized.
      val scored = TF.withQualityOnly(aug
          .select(col("doc_id"), TF.normalizeText(TF.stripHtml(html)).as("clean"))
          // lazy pre-barrier: the pushed-down quality filter otherwise
          // carries its own copy of the strip→normalize chain (the
          // l22c rationale); materializes during the eager barrier's job
          .localCheckpoint(false),
          "clean")
        .where(col("quality") >= 0.75)
        .localCheckpoint(true)
      val exactDeduped = Dedup.exact(scored, "clean", "doc_id")
        .localCheckpoint(true)
      // uncapped buckets: recall contract (the l02d rationale)
      val survivors = Dedup.nearDupClusters(exactDeduped, "clean", "doc_id",
          threshold = 0.8, maxBucket = Int.MaxValue)
        .where(col("doc_id") === col("cluster"))
        .select(col("doc_id"))
      // planted = originals where BOTH sides passed the quality gate
      val sIds = scored.select(col("doc_id"))
      val planted = sIds.where(col("doc_id") % 7 === 0 && col("doc_id") < 200000)
        .join(sIds.where(col("doc_id") >= 200000)
          .select((col("doc_id") - 200000).as("doc_id")), Seq("doc_id"), "left_semi")
      val missed = survivors.join(
        planted.select((col("doc_id") + 200000).as("doc_id")),
        Seq("doc_id"), "left_semi")
      missed.agg(count(lit(1)).as("missed_planted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""WITH c AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS c1, trim(regexp_replace(regexp_replace(nfc_normalize(text || ' zzextra'), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS c2 FROM documents WHERE doc_id % 7 = 0), u AS (SELECT doc_id, unnest([c1, c2]) AS x FROM c), t AS (SELECT doc_id, x, list_filter(string_split_regex(lower(x), '\s+'), w -> len(w) > 0) ts FROM u), m AS (SELECT doc_id, x, CASE WHEN len(x)=0 THEN 0.0 ELSE CAST(len(x) - len(regexp_replace(x, '[.,!?;:]', '', 'g')) AS DOUBLE)/len(x) END pr, CASE WHEN len(ts)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(ts, w -> len(w))) AS DOUBLE)/len(ts) END mwl FROM t), q AS (SELECT doc_id, round(least(CAST(len(x) AS DOUBLE)/400.0, 1.0)*0.5 + (1.0 - least(pr*5.0, 1.0))*0.3 + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)*0.2, 6) AS quality FROM m), ok AS (SELECT doc_id FROM q GROUP BY doc_id HAVING min(quality) >= 0.75) SELECT 0 AS missed_planted, COUNT(*) AS n_planted FROM ok""")),

    // ---- L23: the STREAMING intake loop end-to-end — three micro-
    // batches driven through StreamOps.mixedIntakeBatch (clean → score →
    // exact dedup within+vs-history → near dedup within+vs-history →
    // exactly-once survivor output + delta appends), with a compaction
    // BETWEEN batches so the last batch probes the folded main tables.
    // Texts are synthesized deterministically from the documents table's
    // ids (40 'tokNwordW' tokens; every 11th doc a 3-token low-quality
    // stub) so the corpus has NO natural near-dups and DuckDB can
    // restate the whole outcome: batch 1 carries exact copies of every
    // (3k,5k) doc under +300000, batch 2 near-copies of every (3k,7k)
    // doc under +200000 — planted dups never survive (quality-filtered
    // with their originals or deduped against history), so the survivor
    // set is exactly the quality-passing originals, each in its own
    // batch. ----
    ("l23_intake_streaming", (s, d) => {
      import graft.streaming.StreamOps
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val clean = when(col("doc_id") % 11 === 0, lit("tiny low quality"))
        .otherwise(array_join(transform(sequence(lit(0), lit(39)),
          i => concat(lit("tok"), col("doc_id").cast("string"),
            lit("word"), i.cast("string"))), " "))
      val docs = ids.select(col("doc_id"), clean.as("__clean"))
      def wrap(c: org.apache.spark.sql.Column) = concat(lit("<p class=\"x\">"), c,
        lit("</p><script>var j = \"<q>\";</script>"))
      val b0 = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), wrap(col("__clean")).as("html"))
      val b1 = docs.where(col("doc_id") % 3 === 1)
        .select(col("doc_id"), wrap(col("__clean")).as("html"))
        .unionByName(docs
          .where(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 300000).as("doc_id"),
            wrap(col("__clean")).as("html")))
      val b2 = docs.where(col("doc_id") % 3 === 2)
        .select(col("doc_id"), wrap(col("__clean")).as("html"))
        .unionByName(docs
          .where(col("doc_id") % 3 === 0 && col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            wrap(concat(col("__clean"), lit(" zzextra"))).as("html")))
      val table = "l23_hist"
      val outDir = s.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/l23_out"
      // rebuild from scratch each run: stale pointer/history from a
      // previous rep or session would no-op the batches (l02i pattern)
      Dedup.IntakeHistory.drop(s, table)
      val outP = new org.apache.hadoop.fs.Path(outDir)
      outP.getFileSystem(s.sparkContext.hadoopConfiguration).delete(outP, true)
      StreamOps.mixedIntakeBatch(b0, 0L, table, 8, "html", "payload", "doc_id", outDir)
      StreamOps.mixedIntakeBatch(b1, 1L, table, 8, "html", "payload", "doc_id", outDir)
      Dedup.IntakeHistory.fold(s, table) // mid-stream fold: b2 probes MAIN
      StreamOps.mixedIntakeBatch(b2, 2L, table, 8, "html", "payload", "doc_id", outDir)
      (0 to 2).map(b => s.read.parquet(s"$outDir/batch-$b")
          .select(col("doc_id"), lit(b).cast("int").as("batch"), col("quality")))
        .reduce(_ unionByName _)
        .orderBy(col("doc_id"))
    }, Some("""WITH t AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN 'tiny low quality' ELSE array_to_string(list_transform(generate_series(0, 39), i -> 'tok' || doc_id || 'word' || i), ' ') END AS clean, CAST(doc_id % 3 AS INT) AS batch FROM documents), tok AS (SELECT doc_id, batch, clean, list_filter(string_split_regex(lower(clean), '\s+'), x -> len(x) > 0) ts FROM t), m AS (SELECT doc_id, batch, clean, CASE WHEN len(clean)=0 THEN 0.0 ELSE CAST(len(clean) - len(regexp_replace(clean, '[.,!?;:]', '', 'g')) AS DOUBLE)/len(clean) END pr, CASE WHEN len(ts)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)/len(ts) END mwl FROM tok), q AS (SELECT doc_id, batch, round(least(CAST(len(clean) AS DOUBLE)/400.0, 1.0)*0.5 + (1.0 - least(pr*5.0, 1.0))*0.3 + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)*0.2, 6) AS quality FROM m) SELECT doc_id, batch, quality FROM q WHERE quality >= 0.75 ORDER BY doc_id""")),

    // ---- L23b: STEADY-STATE intake probe — the composed hot path
    // priced on its own (the l02h/l04e probe-row pattern): l23 is
    // lifecycle-by-design (three history builds + a mid-stream
    // compaction per rep), so a regression in the COMPOSITION — e.g. a
    // lost localCheckpoint barrier re-introducing the 4x signature
    // re-evaluation — would hide inside its rebuild noise. Here the
    // hash+band+shingle history is seeded once per session and folded
    // to its steady state, and each rep replays ONE micro-batch
    // against the populated history with the pointer rolled back — the
    // exact crash-replay path, which the exactly-once contract pins to
    // an identical survivor set. Survivors = quality-passing fresh
    // docs; planted exact copies of seeded docs die on the hash
    // history, planted near copies on the band history — DuckDB
    // restates the outcome from the deterministic synthesized texts. ----
    ("l23b_intake_probe", (s, d) => {
      import graft.streaming.StreamOps
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val clean = when(col("doc_id") % 11 === 0, lit("tiny low quality"))
        .otherwise(array_join(transform(sequence(lit(0), lit(39)),
          i => concat(lit("tok"), col("doc_id").cast("string"),
            lit("word"), i.cast("string"))), " "))
      val docs = ids.select(col("doc_id"), clean.as("__clean"))
      def wrap(c: org.apache.spark.sql.Column) = concat(lit("<p class=\"x\">"), c,
        lit("</p><script>var j = \"<q>\";</script>"))
      val table = s"l23bp_hist_${sfTag(d)}"
      val outDir = s.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + s"/l23bp_out_${sfTag(d)}"
      val outP = new org.apache.hadoop.fs.Path(outDir)
      val fs = outP.getFileSystem(s.sparkContext.hadoopConfiguration)
      // all three history tables gated (crash between creates — the
      // l02h rationale); seed = two-thirds of the corpus, then fold so
      // the probe runs against the steady-state bucketed main tables
      if (!s.catalog.tableExists(table) ||
          !s.catalog.tableExists(s"${table}_sh") ||
          !s.catalog.tableExists(s"${table}_xh")) {
        Dedup.IntakeHistory.drop(s, table) // orphaned dirs from a prior session
        fs.delete(outP, true)
        StreamOps.mixedIntakeBatch(docs.where(col("doc_id") % 3 =!= 1)
            .select(col("doc_id"), wrap(col("__clean")).as("html")),
          0L, table, 8, "html", "payload", "doc_id", outDir)
        Dedup.IntakeHistory.fold(s, table)
      }
      // roll the pointer back so every rep replays batch 1 for real
      // (overwrite-own-dir appends keep the history idempotent)
      fs.delete(new org.apache.hadoop.fs.Path(outP, "_LATEST"), false)
      val b1 = docs.where(col("doc_id") % 3 === 1)
        .select(col("doc_id"), wrap(col("__clean")).as("html"))
        .unionByName(docs // exact copies of seeded docs → hash-history drop
          .where(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 300000).as("doc_id"),
            wrap(col("__clean")).as("html")))
        .unionByName(docs // near copies of seeded docs → band-history drop
          .where(col("doc_id") % 3 === 0 && col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            wrap(concat(col("__clean"), lit(" zzextra"))).as("html")))
      StreamOps.mixedIntakeBatch(b1, 1L, table, 8, "html", "payload", "doc_id", outDir)
      s.read.parquet(s"$outDir/batch-1")
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    }, Some("""WITH t AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN 'tiny low quality' ELSE array_to_string(list_transform(generate_series(0, 39), i -> 'tok' || doc_id || 'word' || i), ' ') END AS clean FROM documents WHERE doc_id % 3 = 1), tok AS (SELECT doc_id, clean, list_filter(string_split_regex(lower(clean), '\s+'), x -> len(x) > 0) ts FROM t), m AS (SELECT doc_id, clean, CASE WHEN len(clean)=0 THEN 0.0 ELSE CAST(len(clean) - len(regexp_replace(clean, '[.,!?;:]', '', 'g')) AS DOUBLE)/len(clean) END pr, CASE WHEN len(ts)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)/len(ts) END mwl FROM tok), q AS (SELECT doc_id, round(least(CAST(len(clean) AS DOUBLE)/400.0, 1.0)*0.5 + (1.0 - least(pr*5.0, 1.0))*0.3 + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)*0.2, 6) AS quality FROM m) SELECT doc_id, quality FROM q WHERE quality >= 0.75 ORDER BY doc_id""")),

    // ---- L24: IMAGE near-dedup via perceptual hash — dedup finally
    // consumes the pixels the 11 codecs decode: dHash (public 8x8
    // luma-gradient hash, Multimodal.dHash64) over the decoded raster,
    // fed into the existing 64-bit Hamming band machinery
    // (simhashCandidatesOfSigs), so image identity composes with the
    // same banded/bucketed join discipline as text SimHash — 8 bytes
    // per image cross the shuffle, never payloads. Contract (the l02d
    // recall pattern): every planted cross-codec copy — the SAME pixel
    // raster re-encoded PPM→PNG under a fresh id — must surface as a
    // candidate pair, and at Hamming distance exactly 0 (both decode
    // paths land on the identical raster; the lossy-codec tolerance
    // leg is pinned in MultimodalSpec where JPEG-decoded block rasters
    // hash identically to their PNG siblings). ----
    ("l24_image_dedup", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val originals = Multimodal.syntheticPpm(docs, "doc_id", 16, 16)
        .select(col("doc_id"), col("payload"))
      val copies = Multimodal.syntheticPng(
          docs.where(col("doc_id") % 7 === 0), "doc_id", 16, 16)
        .select((col("doc_id") + 200000).as("doc_id"), col("payload"))
      val sigs = Multimodal.imageDHash(originals.unionByName(copies))
        .where(col("dhash").isNotNull)
        .select(col("doc_id"), col("dhash"))
      // uncapped buckets: recall contract (the l02d rationale) — the
      // fixture's ~250 base-offset classes keep every bucket small
      val cands = Dedup.simhashCandidatesOfSigs(sigs, "doc_id", "dhash",
        maxDist = 3, nBands = 4, bits = 64, maxBucket = Int.MaxValue)
      val planted = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 200000).as("id_b"))
      val missed = planted
        .join(cands.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
      val nonzero = planted
        .join(cands.where(col("hamming_dist") =!= 0)
          .select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("planted_nonzero_hamming"))
      // cluster-resolved survivors: a copy is directly connected to its
      // original, so the copy (larger id) can never be its cluster's
      // minimum — whatever hash-collision classes join the component
      val survivedCopies = Dedup.imageNearDupClusters(
          Multimodal.multimodalIdentities(originals.unionByName(copies),
            "payload", "doc_id"), "doc_id", maxBucket = Int.MaxValue)
        .where(col("doc_id") === col("cluster") && col("doc_id") >= 200000)
        .agg(count(lit(1)).as("copies_survived"))
      missed.crossJoin(nonzero)
        .crossJoin(survivedCopies)
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, 0 AS planted_nonzero_hamming, 0 AS copies_survived, COUNT(*) AS n_planted FROM documents WHERE doc_id % 7 = 0""")),

    // ---- L24b: INCREMENTAL image dedup vs a persisted perceptual-hash
    // history — the image leg of the intake discipline: the `_ph` table
    // (the `_xh` machinery keyed on dHash) accumulates accepted image
    // identities, and each arriving batch is deduped within itself
    // (imageExact, keep-min per raster) then against history
    // (imageIncrementalDelta — batch hashes broadcast, history never
    // exchanges, payloads never cross a shuffle). Fixture uses the
    // MIXED generators (hash-diverse rasters — the ramp formula's ~170
    // hash classes would alias unrelated docs): history = two thirds of
    // the corpus as PPM; the batch = the fresh third as PPM, PNG
    // re-encodes of history images (cross-codec, die on the history
    // probe), and PNG re-encodes of batch images (die within-batch).
    // Survivors are exactly the fresh third, restated in SQL. ----
    ("l24b_image_incremental", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val table = s"l24bp_hist_${sfTag(d)}"
      val hist = docs.where(col("doc_id") % 3 =!= 1)
      if (!s.catalog.tableExists(s"${table}_ph")) {
        Dedup.ImageHistory.drop(s, table) // orphaned location from a prior session
        val seed = Multimodal.multimodalIdentities(
          Multimodal.syntheticPpmMixed(hist, "doc_id", 16, 16), "payload", "doc_id")
        Dedup.ImageHistory.ensure(s, table, seed.schema("doc_id"), 8)
        Dedup.appendImageHistoryDelta(s, seed, "doc_id", table, 0L)
        Dedup.ImageHistory.fold(s, table) // steady state: folded main
      }
      val fresh = Multimodal.syntheticPpmMixed(
        docs.where(col("doc_id") % 3 === 1), "doc_id", 16, 16)
      val vsHist = Multimodal.syntheticPngMixed(
        hist.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("doc_id").as("__seed")),
        "__seed", 16, 16)
      val within = Multimodal.syntheticPngMixed(
        docs.where(col("doc_id") % 3 === 1 && col("doc_id") % 7 === 0)
          .select((col("doc_id") + 300000).as("doc_id"), col("doc_id").as("__seed")),
        "__seed", 16, 16)
      val batch = fresh.select(col("doc_id"), col("payload"))
        .unionByName(vsHist.select(col("doc_id"), col("payload")))
        .unionByName(within.select(col("doc_id"), col("payload")))
      Dedup.imageIncrementalDelta(s,
          Dedup.imageExact(Multimodal.multimodalIdentities(batch, "payload", "doc_id"),
            "doc_id"), table, "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""SELECT doc_id FROM documents WHERE doc_id % 3 = 1 ORDER BY doc_id""")),

    // ---- L28: AUDIO near-dedup via spectral fingerprint — dedup
    // consumes the PCM the audio codecs decode: Haitsma-Kalker-style
    // 64-bit signatures (Multimodal.audioFingerprint64 — log band
    // energies of a Haar filterbank, sign bits of temporal + spectral
    // ratios) over every decoded clip, fed into the SAME Hamming band
    // machinery as image dHash / text SimHash, at the calibrated
    // tolerance AudioMaxDist=9 (probe-measured re-encode ceiling over
    // the full sf0.1 seed range). Contract (l24 pattern): every
    // planted cross-codec re-encode of a doc's tone — the SAME signal
    // re-encoded PCM16→μ-law and PCM16→ADPCM under fresh ids — must
    // surface as a candidate pair, and no copy may survive the
    // cluster resolution (a copy is directly connected to its
    // original, so it can never be its cluster's minimum). ----
    ("l28_audio_dedup", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val originals = Multimodal.syntheticWavPcm16(docs, "doc_id")
        .select(col("doc_id"), col("payload"))
      val muCopies = Multimodal.syntheticWavMulawTone(
          docs.where(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 200000).as("doc_id"),
              col("doc_id").as("__seed")), "__seed")
        .select(col("doc_id"), col("payload"))
      val adCopies = Multimodal.syntheticWavAdpcmTone(
          docs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 300000).as("doc_id"),
              col("doc_id").as("__seed")), "__seed")
        .select(col("doc_id"), col("payload"))
      val all = originals.unionByName(muCopies).unionByName(adCopies)
      // one synthesis + fingerprint pass feeds BOTH legs (each WAV is
      // ~27M sin() evaluations per corpus pass — re-deriving it per leg
      // tripled the row's cost); candidate pairs likewise computed once
      val sigs = Multimodal.audioFingerprint(all)
        .where(col("afp").isNotNull).select(col("doc_id"), col("afp"))
        .localCheckpoint(true)
      // uncapped buckets: recall contract (the l02d rationale)
      val cands = Dedup.audioCandidates(sigs, "doc_id", "afp",
          maxBucket = Int.MaxValue)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      val planted = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 200000).as("id_b"))
        .unionByName(docs.where(col("doc_id") % 5 === 0)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 300000).as("id_b")))
      val missed = planted.join(cands, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
      // cluster resolution over the SAME candidate pairs (what
      // audioNearDupClusters does, minus its second fingerprint pass)
      val survivedCopies = graft.operators.Graph
        .connectedComponents(cands, "id_a", "id_b",
          nodes = Some(sigs.select(col("doc_id"))), assumeDistinct = true)
        .where(col("id") === col("component") && col("id") >= 200000)
        .agg(count(lit(1)).as("copies_survived"))
      missed.crossJoin(survivedCopies)
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, 0 AS copies_survived, (SELECT COUNT(*) FROM documents WHERE doc_id % 7 = 0) + (SELECT COUNT(*) FROM documents WHERE doc_id % 5 = 0) AS n_planted""")),

    // ---- L28b: INCREMENTAL audio dedup vs a persisted BANDED
    // signature history (`_ab`) — the audio leg of the intake
    // discipline. Lossy re-encodes make exact-hash history probes
    // useless here, so the history stores banded signatures and the
    // probe is the Hamming band join. Three claims: (1) the banded
    // history probe equals brute-force pairwise Hamming over the same
    // signatures (the l02e guarantee differential — pigeonhole-exact,
    // so mismatch_hist = 0 unconditionally, natural collisions
    // included); (2) planted μ-law re-encodes of HISTORY docs die on
    // the history probe; (3) planted ADPCM re-encodes of IN-BATCH
    // docs die on the within-batch cluster resolution (a copy never
    // outranks its smaller-id original). ----
    ("l28b_audio_incremental", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val table = s"l28bp_hist_${sfTag(d)}"
      val hist = docs.where(col("doc_id") % 3 =!= 1)
      val histPcm = Multimodal.syntheticWavPcm16(hist, "doc_id")
        .select(col("doc_id"), col("payload"))
      if (!s.catalog.tableExists(s"${table}_ab")) {
        Dedup.AudioHistory.drop(s, table) // orphaned location from a prior session
        val seed = Multimodal.multimodalIdentities(histPcm, "payload", "doc_id")
        Dedup.AudioHistory.ensure(s, table, seed.schema("doc_id"), 8)
        Dedup.appendAudioHistoryDelta(s, seed, "doc_id", table, 0L)
        Dedup.AudioHistory.fold(s, table) // steady state: folded main
      }
      val freshIds = docs.where(col("doc_id") % 3 === 1)
      val fresh = Multimodal.syntheticWavPcm16(freshIds, "doc_id")
        .select(col("doc_id"), col("payload"))
      val vsHist = Multimodal.syntheticWavMulawTone(
          hist.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 200000).as("doc_id"),
              col("doc_id").as("__seed")), "__seed")
        .select(col("doc_id"), col("payload"))
      val within = Multimodal.syntheticWavAdpcmTone(
          freshIds.where(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 300000).as("doc_id"),
              col("doc_id").as("__seed")), "__seed")
        .select(col("doc_id"), col("payload"))
      // one synthesis + decode pass for the whole row (the l28
      // rationale): every leg below reads these identities
      val batch = Multimodal.multimodalIdentities(
          fresh.unionByName(vsHist).unionByName(within), "payload", "doc_id")
        .localCheckpoint(true)
      // claim (1): banded history probe == brute-force Hamming over
      // the same signatures (different-id, <= AudioMaxDist)
      // maxBucket UNCAPPED on both probes: the brute-force reference
      // below is uncapped, so a capped probe would fail the claim-(1)
      // equality spuriously the first time a hot (band,bucket) group
      // appears at a larger scale factor (the l28/l30 recall-contract
      // discipline; production callers keep the default cap)
      val incSurvivors = Dedup.audioIncrementalDelta(s, batch, table,
          "doc_id", maxBucket = Int.MaxValue)
        .select(col("doc_id")).localCheckpoint(true)
      val batchSigs = batch.where(col("__asig").isNotNull)
        .select(col("doc_id"), col("__asig").as("afp"))
      val histSigs = Multimodal.audioFingerprint(histPcm)
        .where(col("afp").isNotNull)
        .select(col("doc_id").as("__hid"), col("afp").as("__hafp"))
      val refDropped = batchSigs.crossJoin(histSigs)
        .where(col("doc_id") =!= col("__hid") &&
          Dedup.hamming(col("afp"), col("__hafp"), bits = 64) <= Dedup.AudioMaxDist)
        .select(col("doc_id")).distinct()
      val refSurvivors = batch.select(col("doc_id"))
        .join(refDropped, Seq("doc_id"), "left_anti")
      val mismatch = refSurvivors
        .join(incSurvivors, Seq("doc_id"), "left_anti")
        .unionByName(incSurvivors.join(refSurvivors, Seq("doc_id"), "left_anti"))
        .agg(count(lit(1)).as("mismatch_hist"))
      // claims (2)+(3): the composed pipeline — within-batch cluster
      // resolution, then the history probe — kills every planted copy.
      // Clusters derive from the batch signatures the reference above
      // uses (the audioNearDupClusters candidate geometry)
      val withinSurvivors = graft.operators.Graph
        .connectedComponents(
          Dedup.audioCandidates(batchSigs, "doc_id", "afp",
            maxBucket = Int.MaxValue).select(col("id_a"), col("id_b")),
          "id_a", "id_b", nodes = Some(batch.select(col("doc_id"))),
          assumeDistinct = true)
        .where(col("id") === col("component"))
        .select(col("id").as("doc_id")).join(batch, Seq("doc_id"))
      val pipeSurvivors = Dedup.audioIncrementalDelta(s, withinSurvivors,
          table, "doc_id", maxBucket = Int.MaxValue)
        .select(col("doc_id")).localCheckpoint(true)
      val missedHist = pipeSurvivors.where(col("doc_id") >= 200000 && col("doc_id") < 300000)
        .agg(count(lit(1)).as("missed_hist"))
      val missedWithin = pipeSurvivors.where(col("doc_id") >= 300000)
        .agg(count(lit(1)).as("missed_within"))
      mismatch.crossJoin(missedHist).crossJoin(missedWithin)
        .crossJoin(hist.where(col("doc_id") % 5 === 0)
          .agg(count(lit(1)).as("n_planted_hist")))
        .crossJoin(freshIds.where(col("doc_id") % 7 === 0)
          .agg(count(lit(1)).as("n_planted_within")))
    }, Some("""SELECT 0 AS mismatch_hist, 0 AS missed_hist, 0 AS missed_within, (SELECT COUNT(*) FROM documents WHERE doc_id % 3 <> 1 AND doc_id % 5 = 0) AS n_planted_hist, (SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 1 AND doc_id % 7 = 0) AS n_planted_within""")),

    // ---- L30: VIDEO near-dedup via per-frame perceptual hashes — the
    // third modality's identity leg (images l24, audio l28): every
    // decodable frame dHashes (Y4M's Y plane directly; AVI/MJPEG
    // through the baseline JPEG decoder), candidates come from
    // frame-ALIGNED banded Hamming matches, and a pair qualifies only
    // by frame VOTE (>= 60% of the shorter video's frames). Contract
    // (l24 pattern): planted cross-container copies — the SAME
    // block-gray frames as raw Y4M and as unit-quant MJPEG, which
    // decode to bit-identical rasters — must pair with ALL frames
    // matched at distance 0, and no copy survives cluster resolution. ----
    ("l30_video_dedup", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val originals = Multimodal.syntheticY4mBlocks(docs, "doc_id", 64, 32, 4)
        .select(col("doc_id"), col("payload"))
      val copies = Multimodal.syntheticAviMjpegBlocks(
          docs.where(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 200000).as("doc_id"),
              col("doc_id").as("__seed")), "__seed", 64, 32, 4)
        .select(col("doc_id"), col("payload"))
      val all = originals.unionByName(copies)
      // one decode+hash pass for both legs (the l28 rationale)
      val fh = Multimodal.videoFrameHashes(all).localCheckpoint(true)
      // uncapped buckets: recall contract (the l02d rationale)
      val cands = Dedup.videoCandidates(fh, "doc_id",
          maxBucket = Int.MaxValue).localCheckpoint(true)
      val planted = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 200000).as("id_b"))
      val missed = planted
        .join(cands.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
      // cross-container rasters are bit-identical → every planted pair
      // must match on ALL 4 frames, never a partial vote
      val partial = planted
        .join(cands.where(col("matched_frames") =!= 4)
          .select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("planted_partial_votes"))
      val survivedCopies = graft.operators.Graph
        .connectedComponents(cands.select(col("id_a"), col("id_b")),
          "id_a", "id_b", nodes = Some(all.select(col("doc_id"))),
          assumeDistinct = true)
        .where(col("id") === col("component") && col("id") >= 200000)
        .agg(count(lit(1)).as("copies_survived"))
      missed.crossJoin(partial).crossJoin(survivedCopies)
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, 0 AS planted_partial_votes, 0 AS copies_survived, COUNT(*) AS n_planted FROM documents WHERE doc_id % 7 = 0""")),

    // ---- L30b: INCREMENTAL video dedup vs a persisted frame-hash
    // history — the intake discipline's video leg (images `_ph`, audio
    // `_ab`): the `_vb` table holds banded per-frame hashes bucketed
    // on the probe join's keys, `_vn` the per-video frame counts (the
    // vote denominators). History = two thirds of the corpus as Y4M;
    // the batch = the fresh third as Y4M, MJPEG re-encodes of history
    // videos (cross-container, die on the history vote) and MJPEG
    // re-encodes of in-batch videos (die on the within-batch cluster
    // resolution). Survivors are exactly the fresh third — the
    // block-gray frames are splitmix-diverse, so no natural
    // cross-video frame ever votes. ----
    ("l30b_video_incremental", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val table = s"l30bp_hist_${sfTag(d)}"
      val hist = docs.where(col("doc_id") % 3 =!= 1)
      val histVids = Multimodal.syntheticY4mBlocks(hist, "doc_id", 64, 32, 4)
        .select(col("doc_id"), col("payload"))
      if (!s.catalog.tableExists(s"${table}_vb") ||
          !s.catalog.tableExists(s"${table}_vn")) {
        Dedup.VideoHistory.drop(s, table) // orphaned location from a prior session
        val seed = Multimodal.multimodalIdentities(histVids, "payload", "doc_id")
          .localCheckpoint(eager = false) // both appends read it
        Dedup.VideoHistory.ensure(s, table, seed.schema("doc_id"), 8)
        Dedup.appendVideoHistoryDelta(s, seed, "doc_id", table, 0L)
        Dedup.VideoHistory.fold(s, table) // steady state: folded main
      }
      val freshIds = docs.where(col("doc_id") % 3 === 1)
      val fresh = Multimodal.syntheticY4mBlocks(freshIds, "doc_id", 64, 32, 4)
        .select(col("doc_id"), col("payload"))
      val vsHist = Multimodal.syntheticAviMjpegBlocks(
          hist.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 200000).as("doc_id"),
              col("doc_id").as("__seed")), "__seed", 64, 32, 4)
        .select(col("doc_id"), col("payload"))
      val within = Multimodal.syntheticAviMjpegBlocks(
          freshIds.where(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 300000).as("doc_id"),
              col("doc_id").as("__seed")), "__seed", 64, 32, 4)
        .select(col("doc_id"), col("payload"))
      val batch = Multimodal.multimodalIdentities(
          fresh.unionByName(vsHist).unionByName(within), "payload", "doc_id")
        .localCheckpoint(true)
      val withinSurvivors = Dedup.videoNearDupClusters(batch, "doc_id",
          maxBucket = Int.MaxValue)
        .where(col("doc_id") === col("cluster"))
        .select(col("doc_id")).join(batch, Seq("doc_id"))
      Dedup.videoIncrementalDelta(s, withinSurvivors, table,
          "doc_id", maxBucket = Int.MaxValue)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""SELECT doc_id FROM documents WHERE doc_id % 3 = 1 ORDER BY doc_id""")),

    // ---- L31: the MULTIMODAL intake loop end-to-end — ONE exactly-
    // once micro-batch pipeline over a MIXED binary corpus: each doc is
    // an image (doc_id%3=0, mixed PPM), an audio clip (%3=1, PCM16
    // melody) or a video (%3=2, block-gray Y4M); the history holds the
    // even ids, the batch carries the odd ids plus planted re-encodes
    // of history items (PNG / μ-law / MJPEG, +200000 — die on their
    // modality's history) and of in-batch items (+300000 — die
    // within-batch). No modality detector anywhere: every identity
    // stage passes foreign payloads through as "no identity". The
    // survivor set is exactly the odd ids, restated in SQL; the
    // per-rep pointer rollback takes the crash-replay path. ----
    ("l31_multimodal_intake", (s, d) => {
      import graft.streaming.StreamOps
      val docs = Tables.documents(s, d).select(col("doc_id"))
      def modal(ids: DataFrame, reencode: Boolean): DataFrame = {
        val m0 = col("__seed") % 3 === 0
        val m1 = col("__seed") % 3 === 1
        val m2 = col("__seed") % 3 === 2
        val img =
          if (reencode) Multimodal.syntheticPngMixed(ids.where(m0), "__seed", 16, 16)
          else Multimodal.syntheticPpmMixed(ids.where(m0), "__seed", 16, 16)
        val aud =
          if (reencode) Multimodal.syntheticWavMulawTone(ids.where(m1), "__seed")
          else Multimodal.syntheticWavPcm16(ids.where(m1), "__seed")
        val vid =
          if (reencode) Multimodal.syntheticAviMjpegBlocks(ids.where(m2), "__seed", 64, 32, 4)
          else Multimodal.syntheticY4mBlocks(ids.where(m2), "__seed", 64, 32, 4)
        img.select(col("doc_id"), col("payload"))
          .unionByName(aud.select(col("doc_id"), col("payload")))
          .unionByName(vid.select(col("doc_id"), col("payload")))
      }
      val table = s"l31p_hist_${sfTag(d)}"
      val outDir = s.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + s"/l31p_out_${sfTag(d)}"
      val outP = new org.apache.hadoop.fs.Path(outDir)
      val fs = outP.getFileSystem(s.sparkContext.hadoopConfiguration)
      val histIds = docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("doc_id").as("__seed"))
      if (!Seq("_ph", "_ab", "_vb", "_vn")
          .forall(x => s.catalog.tableExists(table + x))) {
        Dedup.MultimodalHistory.drop(s, table) // orphaned prior-session state
        fs.delete(outP, true)
        StreamOps.mixedIntakeBatch(modal(histIds, reencode = false),
          0L, table, 8, "html", "payload", "doc_id", outDir)
        Dedup.MultimodalHistory.fold(s, table) // steady state
      }
      // roll the pointer back so every rep replays batch 1 for real
      fs.delete(new org.apache.hadoop.fs.Path(outP, "_LATEST"), false)
      val fresh = docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("doc_id").as("__seed"))
      val vsHist = docs.where(col("doc_id") % 2 === 0 && col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("doc_id").as("__seed"))
      val within = docs.where(col("doc_id") % 2 === 1 && col("doc_id") % 7 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("doc_id").as("__seed"))
      val batch = modal(fresh, reencode = false)
        .unionByName(modal(vsHist, reencode = true))
        .unionByName(modal(within, reencode = true))
      StreamOps.mixedIntakeBatch(batch, 1L, table, 8, "html", "payload",
        "doc_id", outDir)
      s.read.parquet(s"$outDir/batch-1")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""SELECT doc_id FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id""")),

    // ---- L32: the MIXED-corpus intake loop — text AND binary rows in
    // ONE exactly-once micro-batch pipeline (StreamOps.mixedIntakeBatch):
    // a real crawl batch is mixed, so the l23 text legs (strip →
    // normalize → quality gate → exact + near dedup vs the text
    // histories) and the l31 modality legs (image → audio → video vs
    // the binary histories) run over ONE batch frame, routed by which
    // column a row populates (null-based, no content detector), with
    // ONE survivor write, ONE pointer, and all five history deltas
    // appended in crash-prefix order. Fixture: even ids carry the l23
    // deterministic synthesized text (batch by %4: 0 seeds, 2 fresh),
    // odd ids carry the l31 modality-by-%3 payloads (%4: 1 seeds,
    // 3 fresh). Batch 1 adds planted text exact (+300000) and near
    // (+200000) copies of seeded text and planted re-encode copies
    // (+400000) of seeded payloads — every plant dies on its own
    // family's history, so the survivor set is closed-form: quality-
    // passing fresh text + all fresh payload rows. The per-rep pointer
    // rollback takes the crash-replay path. ----
    ("l32_mixed_intake", (s, d) => {
      import graft.streaming.StreamOps
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val cleanT = when(col("doc_id") % 11 === 0, lit("tiny low quality"))
        .otherwise(array_join(transform(sequence(lit(0), lit(39)),
          i => concat(lit("tok"), col("doc_id").cast("string"),
            lit("word"), i.cast("string"))), " "))
      def wrap(c: org.apache.spark.sql.Column) = concat(lit("<p class=\"x\">"), c,
        lit("</p><script>var j = \"<q>\";</script>"))
      def textFrame(ids: DataFrame) = ids
        .select(col("doc_id"), wrap(cleanT).as("html"),
          lit(null).cast("binary").as("payload"))
      def modal(ids: DataFrame, reencode: Boolean): DataFrame = {
        val m0 = col("__seed") % 3 === 0
        val m1 = col("__seed") % 3 === 1
        val m2 = col("__seed") % 3 === 2
        val img =
          if (reencode) Multimodal.syntheticPngMixed(ids.where(m0), "__seed", 16, 16)
          else Multimodal.syntheticPpmMixed(ids.where(m0), "__seed", 16, 16)
        val aud =
          if (reencode) Multimodal.syntheticWavMulawTone(ids.where(m1), "__seed")
          else Multimodal.syntheticWavPcm16(ids.where(m1), "__seed")
        val vid =
          if (reencode) Multimodal.syntheticAviMjpegBlocks(ids.where(m2), "__seed", 64, 32, 4)
          else Multimodal.syntheticY4mBlocks(ids.where(m2), "__seed", 64, 32, 4)
        img.select(col("doc_id"), col("payload"))
          .unionByName(aud.select(col("doc_id"), col("payload")))
          .unionByName(vid.select(col("doc_id"), col("payload")))
      }
      def binFrame(ids: DataFrame, reencode: Boolean) =
        modal(ids, reencode)
          .select(col("doc_id"), lit(null).cast("string").as("html"),
            col("payload"))
      val table = s"l32p_hist_${sfTag(d)}"
      val outDir = s.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + s"/l32p_out_${sfTag(d)}"
      val outP = new org.apache.hadoop.fs.Path(outDir)
      val fs = outP.getFileSystem(s.sparkContext.hadoopConfiguration)
      // ALL five histories gated (crash between creates, l02h rationale)
      if (!Seq("", "_sh", "_xh", "_ph", "_ab", "_vb", "_vn")
          .forall(x => s.catalog.tableExists(table + x))) {
        StreamOps.dropMixedHistory(s, table) // orphaned prior-session state
        fs.delete(outP, true)
        val seed = textFrame(docs.where(col("doc_id") % 4 === 0))
          .unionByName(binFrame(docs.where(col("doc_id") % 4 === 1)
            .select(col("doc_id"), col("doc_id").as("__seed")), reencode = false))
        StreamOps.mixedIntakeBatch(seed, 0L, table, 8, "html", "payload",
          "doc_id", outDir)
        (Dedup.IntakeHistory ++ Dedup.MultimodalHistory).fold(s, table) // steady state
      }
      // roll the pointer back so every rep replays batch 1 for real
      fs.delete(new org.apache.hadoop.fs.Path(outP, "_LATEST"), false)
      // text plants synthesize from the ORIGINAL id's text, then remap
      // the id (the l23 pattern — text generated from the plant id
      // would be a fresh doc, not a copy)
      def textPlant(ids: DataFrame, bump: Int, suffix: String) = ids
        .select(col("doc_id"), cleanT.as("__clean"))
        .select((col("doc_id") + bump).as("doc_id"),
          wrap(concat(col("__clean"), lit(suffix))).as("html"),
          lit(null).cast("binary").as("payload"))
      val b1 = textFrame(docs.where(col("doc_id") % 4 === 2))
        .unionByName(binFrame(docs.where(col("doc_id") % 4 === 3)
          .select(col("doc_id"), col("doc_id").as("__seed")), reencode = false))
        .unionByName(textPlant(docs // exact copies → hash-history drop
          .where(col("doc_id") % 4 === 0 && col("doc_id") % 5 === 0),
          300000, ""))
        .unionByName(textPlant(docs // near copies → band-history drop
          .where(col("doc_id") % 4 === 0 && col("doc_id") % 7 === 0),
          200000, " zzextra"))
        .unionByName(binFrame(docs // re-encode copies → modality drops
          .where(col("doc_id") % 4 === 1 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 400000).as("doc_id"),
            col("doc_id").as("__seed")), reencode = true))
      StreamOps.mixedIntakeBatch(b1, 1L, table, 8, "html", "payload",
        "doc_id", outDir)
      s.read.parquet(s"$outDir/batch-1")
        .select(col("doc_id"), col("quality"),
          when(col("text").isNotNull, lit("text")).otherwise(lit("binary"))
            .as("kind"))
        .orderBy(col("doc_id"))
    }, Some("""WITH t AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN 'tiny low quality' ELSE array_to_string(list_transform(generate_series(0, 39), i -> 'tok' || doc_id || 'word' || i), ' ') END AS clean FROM documents WHERE doc_id % 4 = 2), tok AS (SELECT doc_id, clean, list_filter(string_split_regex(lower(clean), '\s+'), x -> len(x) > 0) ts FROM t), m AS (SELECT doc_id, clean, CASE WHEN len(clean)=0 THEN 0.0 ELSE CAST(len(clean) - len(regexp_replace(clean, '[.,!?;:]', '', 'g')) AS DOUBLE)/len(clean) END pr, CASE WHEN len(ts)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)/len(ts) END mwl FROM tok), q AS (SELECT doc_id, round(least(CAST(len(clean) AS DOUBLE)/400.0, 1.0)*0.5 + (1.0 - least(pr*5.0, 1.0))*0.3 + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)*0.2, 6) AS quality FROM m) SELECT doc_id, quality, kind FROM (SELECT doc_id, quality, 'text' AS kind FROM q WHERE quality >= 0.75 UNION ALL SELECT doc_id, CAST(NULL AS DOUBLE) AS quality, 'binary' AS kind FROM documents WHERE doc_id % 4 = 3) ORDER BY doc_id""")),

    // ---- L33: the FIVE-FAMILY intake loop — text, image, audio,
    // video AND embedding rows in ONE exactly-once micro-batch
    // (mixedIntakeBatch with the embCol leg): SemDeDup runs AT INTAKE
    // against a persisted IVF embedding history (`_ei`, quantizer
    // frozen from the seed batch), alongside the l23 text legs and the
    // l31 modality legs — six history deltas, one survivor write, one
    // pointer. Fixture: text = documents %4∈{0 seed, 2 fresh} (the l23
    // recipe); payloads = documents %4∈{1 seed, 3 fresh} by modality,
    // ids +500000; vectors = embeddings %4∈{1 seed, 3 fresh}, ids
    // +1000000. Batch 1 plants: text exact (+300000) / near (+200000)
    // copies, payload re-encodes (+700000), 2x-scaled copies of SEED
    // vectors (+2000000 — die on the `_ei` history probe) and of FRESH
    // vectors (+3000000 — die within batch under the frozen
    // quantizer), and NEGATED controls (+4000000, cos −1 — must
    // survive everything). Survivor set closed-form in SQL. ----
    ("l33_five_family_intake", (s, d) => {
      import graft.streaming.StreamOps
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val cleanT = when(col("doc_id") % 11 === 0, lit("tiny low quality"))
        .otherwise(array_join(transform(sequence(lit(0), lit(39)),
          i => concat(lit("tok"), col("doc_id").cast("string"),
            lit("word"), i.cast("string"))), " "))
      def wrap(c: org.apache.spark.sql.Column) = concat(lit("<p class=\"x\">"), c,
        lit("</p><script>var j = \"<q>\";</script>"))
      val nullPay = lit(null).cast("binary").as("payload")
      val nullEmb = lit(null).cast("array<float>").as("embedding")
      def textFrame(ids: DataFrame) = ids.select(col("doc_id"),
        wrap(cleanT).as("html"), nullPay, nullEmb)
      def textPlant(ids: DataFrame, bump: Int, suffix: String) = ids
        .select(col("doc_id"), cleanT.as("__clean"))
        .select((col("doc_id") + bump).as("doc_id"),
          wrap(concat(col("__clean"), lit(suffix))).as("html"), nullPay, nullEmb)
      def modal(ids: DataFrame, reencode: Boolean): DataFrame = {
        val m0 = col("__seed") % 3 === 0
        val m1 = col("__seed") % 3 === 1
        val m2 = col("__seed") % 3 === 2
        val img =
          if (reencode) Multimodal.syntheticPngMixed(ids.where(m0), "__seed", 16, 16)
          else Multimodal.syntheticPpmMixed(ids.where(m0), "__seed", 16, 16)
        val aud =
          if (reencode) Multimodal.syntheticWavMulawTone(ids.where(m1), "__seed")
          else Multimodal.syntheticWavPcm16(ids.where(m1), "__seed")
        val vid =
          if (reencode) Multimodal.syntheticAviMjpegBlocks(ids.where(m2), "__seed", 64, 32, 4)
          else Multimodal.syntheticY4mBlocks(ids.where(m2), "__seed", 64, 32, 4)
        img.select(col("doc_id"), col("payload"))
          .unionByName(aud.select(col("doc_id"), col("payload")))
          .unionByName(vid.select(col("doc_id"), col("payload")))
          .select(col("doc_id"), lit(null).cast("string").as("html"),
            col("payload"), nullEmb)
      }
      def binOf(sel: org.apache.spark.sql.Column, bump: Int, reencode: Boolean) =
        modal(docs.where(sel)
          .select((col("doc_id") + bump).as("doc_id"), col("doc_id").as("__seed")),
          reencode)
      def vecFrame(ids: DataFrame, bump: Int,
          f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = ids
        .select((col("vec_id") + bump).as("doc_id"),
          lit(null).cast("string").as("html"), nullPay,
          transform(col("embedding"), f).as("embedding"))
      val idF = (x: org.apache.spark.sql.Column) => x
      val x2F = (x: org.apache.spark.sql.Column) => (x * lit(2.0f)).cast("float")
      val negF = (x: org.apache.spark.sql.Column) => (-x).cast("float")
      val table = s"l33p_hist_${sfTag(d)}"
      val outDir = s.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + s"/l33p_out_${sfTag(d)}"
      val outP = new org.apache.hadoop.fs.Path(outDir)
      val fs = outP.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!(Seq("", "_sh", "_xh", "_ph", "_ab", "_vb", "_vn")
            .forall(x => s.catalog.tableExists(table + x)) &&
          s.catalog.tableExists(s"${table}_ei"))) {
        StreamOps.dropMixedHistory(s, table) // orphaned prior-session state
        fs.delete(outP, true)
        val seed = textFrame(docs.where(col("doc_id") % 4 === 0))
          .unionByName(binOf(col("doc_id") % 4 === 1, 500000, reencode = false))
          .unionByName(vecFrame(emb.where(col("vec_id") % 4 === 1), 1000000, idF))
        StreamOps.mixedIntakeBatch(seed, 0L, table, 8, "html", "payload",
          "doc_id", outDir, embCol = Some("embedding"))
        (Dedup.IntakeHistory ++ Dedup.MultimodalHistory).fold(s, table) // steady state
        Similarity.compactIvfDelta(s, s"${table}_ei")
      }
      // roll the pointer back so every rep replays batch 1 for real
      fs.delete(new org.apache.hadoop.fs.Path(outP, "_LATEST"), false)
      val freshV = emb.where(col("vec_id") % 4 === 3)
      val b1 = textFrame(docs.where(col("doc_id") % 4 === 2))
        .unionByName(binOf(col("doc_id") % 4 === 3, 500000, reencode = false))
        .unionByName(vecFrame(freshV, 1000000, idF))
        .unionByName(textPlant(docs
          .where(col("doc_id") % 4 === 0 && col("doc_id") % 5 === 0), 300000, ""))
        .unionByName(textPlant(docs
          .where(col("doc_id") % 4 === 0 && col("doc_id") % 7 === 0), 200000, " zzextra"))
        .unionByName(binOf(col("doc_id") % 4 === 1 && col("doc_id") % 5 === 0,
          700000, reencode = true))
        .unionByName(vecFrame(emb // scaled copies of SEED vectors → _ei drop
          .where(col("vec_id") % 4 === 1 && col("vec_id") % 5 === 0), 2000000, x2F))
        .unionByName(vecFrame(freshV // scaled copies of FRESH → within drop
          .where(col("vec_id") % 7 === 0), 3000000, x2F))
        .unionByName(vecFrame(freshV // negated controls → survive
          .where(col("vec_id") % 11 === 0), 4000000, negF))
      StreamOps.mixedIntakeBatch(b1, 1L, table, 8, "html", "payload",
        "doc_id", outDir, embCol = Some("embedding"))
      s.read.parquet(s"$outDir/batch-1")
        .select(col("doc_id"), col("quality"),
          when(col("text").isNotNull, lit("text"))
            .when(col("payload").isNotNull, lit("binary"))
            .otherwise(lit("vector")).as("kind"))
        .orderBy(col("doc_id"))
    }, Some("""WITH t AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN 'tiny low quality' ELSE array_to_string(list_transform(generate_series(0, 39), i -> 'tok' || doc_id || 'word' || i), ' ') END AS clean FROM documents WHERE doc_id % 4 = 2), tok AS (SELECT doc_id, clean, list_filter(string_split_regex(lower(clean), '\s+'), x -> len(x) > 0) ts FROM t), m AS (SELECT doc_id, clean, CASE WHEN len(clean)=0 THEN 0.0 ELSE CAST(len(clean) - len(regexp_replace(clean, '[.,!?;:]', '', 'g')) AS DOUBLE)/len(clean) END pr, CASE WHEN len(ts)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)/len(ts) END mwl FROM tok), q AS (SELECT doc_id, round(least(CAST(len(clean) AS DOUBLE)/400.0, 1.0)*0.5 + (1.0 - least(pr*5.0, 1.0))*0.3 + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)*0.2, 6) AS quality FROM m) SELECT doc_id, quality, kind FROM (SELECT doc_id, quality, 'text' AS kind FROM q WHERE quality >= 0.75 UNION ALL SELECT doc_id + 500000 AS doc_id, CAST(NULL AS DOUBLE) AS quality, 'binary' AS kind FROM documents WHERE doc_id % 4 = 3 UNION ALL SELECT vec_id + 1000000 AS doc_id, CAST(NULL AS DOUBLE) AS quality, 'vector' AS kind FROM embeddings WHERE vec_id % 4 = 3 UNION ALL SELECT vec_id + 4000000 AS doc_id, CAST(NULL AS DOUBLE) AS quality, 'vector' AS kind FROM embeddings WHERE vec_id % 4 = 3 AND vec_id % 11 = 0) ORDER BY doc_id""")),

    // ---- L34: train/eval DECONTAMINATION vs a frozen eval-gram table
    // (the intake-side counterpart of l11's batch check): the eval
    // slice's distinct token 5-grams persist once, bucketed on gram;
    // the probe drops every train-side doc sharing ANY gram with it.
    // Differential like l11: NATURAL contamination among real document
    // texts counts too — DuckDB restates the whole gram-membership
    // computation in SQL, so the bucketed/broadcast machinery is
    // checked against the plain set statement. Short docs (< 5
    // tokens) carry no grams and pass by construction. ----
    ("l34_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val table = s"l34p_eval_${sfTag(d)}"
      // gate on SCHEMA, not just existence: a persisted gram table in an
      // older format (or an orphaned location) must rebuild, not wedge
      val ok = s.catalog.tableExists(table) &&
        scala.util.Try(s.table(table).columns.sameElements(Array("gramh")))
          .getOrElse(false)
      if (!ok) {
        Decontaminate.dropEvalGrams(s, table) // stale/orphaned prior state
        Decontaminate.writeEvalGrams(s, docs.where(col("doc_id") % 7 === 3),
          "text", table, n = 5)
      }
      Decontaminate.dropContaminated(s, docs.where(col("doc_id") % 7 =!= 3),
          "text", "doc_id", table, n = 5)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) ts FROM documents), g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ts)-4), i -> array_to_string(ts[i:i+4], ' ')))) gram FROM t WHERE len(ts) >= 5), evg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 3), bad AS (SELECT DISTINCT doc_id FROM g WHERE doc_id % 7 <> 3 AND gram IN (SELECT gram FROM evg)) SELECT doc_id FROM documents WHERE doc_id % 7 <> 3 AND doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id""")),

    // ---- L39: PARAGRAPH-level dedup (the CCNet/Dolma granularity) —
    // the dedup family doc-level legs cannot see: a boilerplate
    // paragraph repeated across otherwise-distinct pages survives l01
    // (whole-doc hash) and l02 (needs high whole-doc overlap) but dies
    // here. Fixture: every even doc gets a SHARED nav paragraph
    // prepended, every 10th a shared footer appended; after dedup the
    // smallest carrier keeps each shared paragraph, every other page
    // sheds it, and each doc reassembles from its surviving paragraphs
    // in order. Differential: DuckDB restates split → keep-first (by
    // (doc_id, idx) per distinct paragraph string) → reassemble, so
    // natural cross-doc paragraph repeats count too. ----
    ("l35_paragraph_dedup", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val fix = docs.select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0,
            lit("shared navigation boilerplate paragraph\n")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 10 === 0,
            lit("\nshared footer paragraph")).otherwise(lit(""))).as("text"))
      Dedup.paragraphDedup(fix, "text", "doc_id").orderBy(col("doc_id"))
    }, Some("""WITH fix AS (SELECT src AS doc_id, CASE WHEN src % 2 = 0 THEN 'shared navigation boilerplate paragraph' || chr(10) ELSE '' END || t || CASE WHEN src % 10 = 0 THEN chr(10) || 'shared footer paragraph' ELSE '' END AS text FROM (SELECT doc_id AS src, text AS t FROM documents)), p AS (SELECT doc_id, generate_subscripts(ps, 1) AS idx, unnest(ps) AS para FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM fix)), r AS (SELECT doc_id, idx, para, row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn FROM p) SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text FROM r WHERE len(trim(para)) < 1 OR rn = 1 GROUP BY doc_id ORDER BY doc_id""")),

    // ---- L39 incremental: batch paragraphs vs a PERSISTED `_pg`
    // paragraph-hash history (the `_xh` delta/fold discipline at
    // paragraph granularity). Batch = every 4th doc re-submitted with
    // a fresh intro line prepended: the body paragraphs all exist in
    // the history and die on the zero-exchange probe; only the fresh
    // intro survives reassembly. DuckDB restates the membership test
    // over the paragraph STRINGS (the hash is engine machinery). ----
    ("l35b_paragraph_incremental", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val table = s"l35bp_hist_${sfTag(d)}"
      if (!s.catalog.tableExists(s"${table}_pg")) {
        Dedup.ParagraphHistory.drop(s, table) // orphaned prior location
        Dedup.writeParagraphHistory(docs, "text", "doc_id", table, numBuckets = 8)
      }
      val batch = docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(lit("fresh intro "), col("doc_id").cast("string"),
            lit("\n"), col("text")).as("text"))
      Dedup.paragraphIncrementalDelta(s, batch, table, "text", "doc_id")
        .orderBy(col("doc_id"))
    }, Some("""WITH hp AS (SELECT DISTINCT unnest(string_split(text, chr(10))) AS para FROM documents), nb AS (SELECT src + 400000 AS doc_id, 'fresh intro ' || src || chr(10) || t AS text FROM (SELECT doc_id AS src, text AS t FROM documents WHERE doc_id % 4 = 0)), p AS (SELECT doc_id, generate_subscripts(ps, 1) AS idx, unnest(ps) AS para FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM nb)) SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text FROM p WHERE len(trim(para)) < 1 OR para NOT IN (SELECT para FROM hp WHERE len(trim(para)) >= 1) GROUP BY doc_id ORDER BY doc_id""")),

    // ---- L41: REPEATED-SPAN dedup (the bounded Lee et al. 2022
    // exact-substring family): every doc gets 80 own tokens; every
    // 10th additionally embeds a SHARED 60-token span mid-document
    // (detected at k=50 — eleven shared 50-grams — and cut from every
    // doc but the smallest carrier, which stays byte-identical), and
    // every doc_id%10==5 embeds a shared 40-token NEAR-MISS (no
    // shared 50-gram — untouched). Survivor texts in closed form. ----
    ("l38_span_dedup", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      // MIXED-CASE token prefixes are load-bearing: span IDENTITY is
      // case-insensitive (anchor tokenizer lower-cases) but the
      // REBUILD must preserve the original bytes — a rebuild that
      // lower-cased cut documents would hash-mismatch this oracle
      def own(a: Int, b: Int) = array_join(transform(sequence(lit(a), lit(b)),
        i => concat(lit("Tok"), col("doc_id").cast("string"),
          lit("w"), i.cast("string"))), " ")
      val sp = (0 until 60).map(j => s"SpanW$j").mkString(" ")
      val ct = (0 until 40).map(j => s"CtrlW$j").mkString(" ")
      val fix = docs.select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(own(0, 39), lit(s" $sp "), own(40, 79)))
          .when(col("doc_id") % 10 === 5,
            concat(own(0, 39), lit(s" $ct "), own(40, 79)))
          .otherwise(own(0, 79)).as("text"))
        // barrier: the operator references its input ~4x (anchors, two
        // rebuild branches, NULL union) — price the operator, not four
        // synthetic-text rebuilds (also the exact/paragraph
        // determinism-note requirement)
        .localCheckpoint(true)
      Dedup.repeatedSpanDedup(fix, "text", "doc_id", k = 50)
        .orderBy(col("doc_id"))
    }, Some("""WITH base AS (SELECT doc_id, array_to_string(list_transform(generate_series(0,79), i -> 'Tok' || doc_id || 'w' || i), ' ') AS own, array_to_string(list_transform(generate_series(0,39), i -> 'Tok' || doc_id || 'w' || i), ' ') AS pre, array_to_string(list_transform(generate_series(40,79), i -> 'Tok' || doc_id || 'w' || i), ' ') AS post FROM documents), sp AS (SELECT array_to_string(list_transform(generate_series(0,59), j -> 'SpanW' || j), ' ') AS sp, array_to_string(list_transform(generate_series(0,39), j -> 'CtrlW' || j), ' ') AS ct) SELECT doc_id, CASE WHEN doc_id % 10 = 0 AND doc_id = (SELECT min(doc_id) FROM documents WHERE doc_id % 10 = 0) THEN pre || ' ' || sp || ' ' || post WHEN doc_id % 10 = 0 THEN pre || ' ' || post WHEN doc_id % 10 = 5 THEN pre || ' ' || ct || ' ' || post ELSE own END AS text FROM base CROSS JOIN sp ORDER BY doc_id""")),

    // ---- L40: MULTIMODAL + EMBEDDING decontamination — eval-set
    // leakage also arrives as images/audio/video/vectors, where the
    // n-gram check (l34) is blind. Frozen EVAL identity tables (the
    // modality families' own probes over an eval-built `_ph`/`_ab`/
    // `_vb`/`_ei` set, written once): batch rows whose payload
    // re-encodes an eval item (PNG of an eval PPM, μ-law of an eval
    // PCM16 clip, MJPEG of an eval Y4M — each decoding to the eval
    // item's identity) and rows whose vector scores cos ≥ 0.95 against
    // an eval vector (2x scaling: bit-identical cosine) are dropped;
    // fresh payloads, negated vector controls (cos −1) and junk (no
    // identity) pass. Survivor set in closed form. ----
    ("l37_decontaminate_mm", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      def modal(ids: DataFrame, reencode: Boolean): DataFrame = {
        val m0 = col("__seed") % 3 === 0
        val m1 = col("__seed") % 3 === 1
        val m2 = col("__seed") % 3 === 2
        val img =
          if (reencode) Multimodal.syntheticPngMixed(ids.where(m0), "__seed", 16, 16)
          else Multimodal.syntheticPpmMixed(ids.where(m0), "__seed", 16, 16)
        val aud =
          if (reencode) Multimodal.syntheticWavMulawTone(ids.where(m1), "__seed")
          else Multimodal.syntheticWavPcm16(ids.where(m1), "__seed")
        val vid =
          if (reencode) Multimodal.syntheticAviMjpegBlocks(ids.where(m2), "__seed", 64, 32, 4)
          else Multimodal.syntheticY4mBlocks(ids.where(m2), "__seed", 64, 32, 4)
        img.select(col("doc_id"), col("payload"))
          .unionByName(aud.select(col("doc_id"), col("payload")))
          .unionByName(vid.select(col("doc_id"), col("payload")))
          .select(col("doc_id"), col("payload"),
            lit(null).cast("array<float>").as("embedding"))
      }
      def vecRows(ids: DataFrame, off: Long, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        ids.select((col("vec_id") + off).as("doc_id"),
          lit(null).cast("binary").as("payload"),
          transform(col("embedding"), x => f(x).cast("float")).as("embedding"))
      val evalT = s"l37p_eval_${sfTag(d)}"
      if (!Seq("_ph", "_ab", "_vb", "_vn", "_ei")
          .forall(x => s.catalog.tableExists(evalT + x))) {
        Decontaminate.dropEvalIdentities(s, evalT) // orphaned prior state
        val evalPay = modal(docs.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 800000).as("doc_id"),
            col("doc_id").as("__seed")), reencode = false)
        val evalVec = vecRows(emb.where(col("vec_id") % 9 === 0), 800000, x => x)
        Decontaminate.writeEvalIdentities(s, evalPay.unionByName(evalVec),
          "payload", "doc_id", evalT, embCol = Some("embedding"))
      }
      val freshPay = modal(docs.where(col("doc_id") % 9 === 1)
        .select(col("doc_id"), col("doc_id").as("__seed")), reencode = false)
      val plantPay = modal(docs.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          col("doc_id").as("__seed")), reencode = true)
      val freshVec = vecRows(emb.where(col("vec_id") % 9 === 1), 1000000, x => x)
      val plantVec = vecRows(emb.where(col("vec_id") % 9 === 0), 2000000,
        x => x * lit(2.0f))
      val negVec = vecRows(emb.where(col("vec_id") % 9 === 0), 3000000, x => -x)
      import s.implicits._
      val junk = Seq((9999999L, "no modality".getBytes)).toDF("doc_id", "payload")
        .select(col("doc_id"), col("payload"),
          lit(null).cast("array<float>").as("embedding"))
      val batch = freshPay.unionByName(plantPay).unionByName(freshVec)
        .unionByName(plantVec).unionByName(negVec).unionByName(junk)
        .localCheckpoint(true)
      Decontaminate.dropContaminatedMultimodal(s, batch, "payload", "doc_id",
          evalT, embCol = Some("embedding"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some("""SELECT doc_id FROM (SELECT doc_id FROM documents WHERE doc_id % 9 = 1 UNION ALL SELECT vec_id + 1000000 AS doc_id FROM embeddings WHERE vec_id % 9 = 1 UNION ALL SELECT vec_id + 3000000 AS doc_id FROM embeddings WHERE vec_id % 9 = 0 UNION ALL SELECT 9999999 AS doc_id) ORDER BY doc_id""")),

    // ---- L29: SEMANTIC dedup (SemDeDup) — cluster-first embedding
    // dedup: the deterministic k-means quantizer assigns every vector
    // to a list, within-cluster pairs at cos >= 0.95 collapse to their
    // min id, NO global pair join anywhere. Planted contract (l02d
    // pattern): scaled copies (2x — a power of two, so every cosine
    // the assignment and the pair scorer compute is bit-identical to
    // the original's and the copy provably lands in its original's
    // cluster) must all be dropped; NEGATED controls (cos -1 to their
    // original, and the corpus' natural pair range is |cos| <= 0.55)
    // must all survive. DuckDB states the survivor arithmetic in
    // closed form. ----
    ("l29_semantic_dedup", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = emb.where(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
      val negated = emb.where(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), x => (-x).cast("float")).as("embedding"))
      val aug = emb.unionByName(planted).unionByName(negated)
      val clusters = Similarity.semanticDupClusters(aug, tau = 0.95,
        nLists = 16, maxCluster = Int.MaxValue)
      val survivors = clusters.where(col("vec_id") === col("cluster"))
        .select(col("vec_id")).localCheckpoint(true)
      val missed = survivors.where(col("vec_id") >= 100000 && col("vec_id") < 200000)
        .agg(count(lit(1)).as("missed_planted"))
      val controlsDropped = emb.where(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 200000).as("vec_id"))
        .join(survivors, Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("controls_dropped"))
      missed.crossJoin(controlsDropped)
        .crossJoin(survivors.agg(count(lit(1)).as("n_survivors")))
        .crossJoin(emb.where(col("vec_id") % 5 === 0)
          .agg(count(lit(1)).as("n_planted")))
    }, Some("""SELECT 0 AS missed_planted, 0 AS controls_dropped, (SELECT COUNT(*) FROM embeddings) + (SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 = 0) AS n_survivors, (SELECT COUNT(*) FROM embeddings WHERE vec_id % 5 = 0) AS n_planted""")),

    // ---- L29b: INCREMENTAL semantic dedup vs a persisted EMBEDDING
    // history — the modality leg embeddings lacked (images `_ph`,
    // audio `_ab`, video `_vb` all have one): the persisted IVF index
    // IS the history (frozen quantizer + bucketed main + delta, so the
    // probe exercises main ∪ delta with the delta deliberately left
    // UNfolded). Three claims (the l28b pattern): (1) the pruned/
    // bucketed/sidelined history probe equals the plain same-list
    // cosine cross-join over the same vectors (machinery differential
    // — mismatch_hist = 0 unconditionally); (2) planted 2x-scaled
    // copies of HISTORY vectors (power-of-two scaling → bit-identical
    // cosines, provably same list — the l29 rationale) die on the
    // history probe; (3) planted 2x copies of IN-BATCH vectors die on
    // the within-batch cluster resolution, and negated controls
    // (cos = -1) survive everything. ----
    ("l29b_semantic_incremental", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val table = s"l29bp_hist_${sfTag(d)}"
      val hist = emb.where(col("vec_id") % 3 =!= 1)
      if (!s.catalog.tableExists(table)) {
        Similarity.dropIvfIndex(s, table) // orphaned location from a prior session
        // seed main from part of the history, append the rest as an
        // UNfolded delta — the probe must see both legs
        Similarity.writeIvfIndex(s, hist.where(col("vec_id") % 4 =!= 0),
          table, nLists = 16)
        Similarity.appendToIvfDelta(s, hist.where(col("vec_id") % 4 === 0),
          table, 0L)
      }
      def x2(df: DataFrame, bump: Int) = df.select(
        (col("vec_id") + bump).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
      val fresh = emb.where(col("vec_id") % 3 === 1)
      val vsHist = x2(hist.where(col("vec_id") % 5 === 0), 200000)
      val within = x2(fresh.where(col("vec_id") % 7 === 0), 300000)
      val negated = fresh.where(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 400000).as("vec_id"),
          transform(col("embedding"), x => (-x).cast("float")).as("embedding"))
      val batch = fresh.unionByName(vsHist).unionByName(within)
        .unionByName(negated).localCheckpoint(true)
      // claim (1): history probe == plain same-list cosine cross-join
      val incSurvivors = Similarity.semanticIncrementalDelta(s, batch,
          table, tau = 0.95, maxList = Int.MaxValue)
        .select(col("vec_id")).localCheckpoint(true)
      val cents = typedLit(Similarity.readCentroids(s, table).toSeq)
      val assignB = batch.select(col("vec_id"), col("embedding"),
        graft.operators.Similarity.nearestAgainst(cents, col("embedding"))
          .as("__blist"))
      val assignH = hist.select(col("vec_id").as("__hid"),
        col("embedding").as("__hvec"),
        graft.operators.Similarity.nearestAgainst(cents, col("__hvec"))
          .as("__hlist"))
      val refCos = VF.cosineNative(col("embedding"), col("__hvec"))
      val refDropped = assignB.crossJoin(assignH)
        .where(col("__blist") === col("__hlist") &&
          !isnan(refCos) && refCos >= 0.95 && col("__hid") =!= col("vec_id"))
        .select(col("vec_id")).distinct()
      val refSurvivors = batch.select(col("vec_id"))
        .join(refDropped, Seq("vec_id"), "left_anti")
      val mismatch = refSurvivors
        .join(incSurvivors, Seq("vec_id"), "left_anti")
        .unionByName(incSurvivors.join(refSurvivors, Seq("vec_id"), "left_anti"))
        .agg(count(lit(1)).as("mismatch_hist"))
      // claims (2)+(3): the composed pipeline — within-batch cluster
      // resolution under the SAME frozen quantizer, then the history
      // probe — kills every planted copy and spares every control
      val withinSurvivors = Similarity.semanticDupClustersIndexed(s, batch,
          table, tau = 0.95, maxCluster = Int.MaxValue)
        .where(col("vec_id") === col("cluster"))
        .select(col("vec_id")).join(batch, Seq("vec_id"))
      val pipeSurvivors = Similarity.semanticIncrementalDelta(s,
          withinSurvivors, table, tau = 0.95, maxList = Int.MaxValue)
        .select(col("vec_id")).localCheckpoint(true)
      val missedHist = pipeSurvivors
        .where(col("vec_id") >= 200000 && col("vec_id") < 300000)
        .agg(count(lit(1)).as("missed_hist"))
      val missedWithin = pipeSurvivors
        .where(col("vec_id") >= 300000 && col("vec_id") < 400000)
        .agg(count(lit(1)).as("missed_within"))
      val controlsDropped = negated.select(col("vec_id"))
        .join(pipeSurvivors, Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("controls_dropped"))
      mismatch.crossJoin(missedHist).crossJoin(missedWithin)
        .crossJoin(controlsDropped)
        .crossJoin(hist.where(col("vec_id") % 5 === 0)
          .agg(count(lit(1)).as("n_planted_hist")))
        .crossJoin(fresh.where(col("vec_id") % 7 === 0)
          .agg(count(lit(1)).as("n_planted_within")))
    }, Some("""SELECT 0 AS mismatch_hist, 0 AS missed_hist, 0 AS missed_within, 0 AS controls_dropped, (SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 <> 1 AND vec_id % 5 = 0) AS n_planted_hist, (SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 = 1 AND vec_id % 7 = 0) AS n_planted_within""")),

    // ---- L10: corpus vocabulary — token frequencies, top-k. Partial
    // aggregation map-side; ties broken on token so the LIMIT cut is a
    // total order in both engines ----
    ("l10_vocab_topk", (s, d) => {
      Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(50)
    }, Some(s"""WITH t AS (SELECT $tokensSql ts FROM documents), u AS (SELECT unnest(ts) token FROM t) SELECT token, COUNT(*) AS freq FROM u GROUP BY token ORDER BY freq DESC, token LIMIT 50""")),

    // ---- L11: train/eval contamination check — an eval doc is
    // contaminated when any of its token 5-grams appears in any train
    // doc (the standard n-gram decontamination test). The split is the
    // portable hash ring, so DuckDB reproduces membership exactly.
    // Scale shape: explode → distinct-gram semi-join, all shuffles on
    // the uniform gram key; partial aggs map-side; no per-doc funnel ----
    ("l11_contamination", (s, d) => {
      val n = 5
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val split = graft.operators.Sampling.hashSplit(docs, "doc_id", trainPct = 80)
      // no size(__toks) guard: ngramsOfTokens yields [] for short docs
      // and explode drops empty arrays — an explicit `where` would get
      // pushed below the __toks projection and re-inline the tokenizer
      // into the filter (each doc tokenized twice; .explain-verified)
      val grams = split
        .withColumn("__toks", TF.tokens(col("text")))
        .select(col("doc_id"), col("split"),
          explode(array_distinct(TF.ngramsOfTokens(col("__toks"), n))).as("gram"))
      val trainGrams = grams.where(col("split") === "train")
        .select(col("gram")).distinct()
      val contaminated = grams.where(col("split") === "eval")
        .join(trainGrams, Seq("gram"), "left_semi")
        .select(col("doc_id")).distinct()
      split.where(col("split") === "eval").agg(count(lit(1)).as("n_eval"))
        .crossJoin(contaminated.agg(count(lit(1)).as("n_contaminated")))
    }, Some("""WITH s AS (SELECT doc_id, text, CASE WHEN ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 % 100 < 80 THEN 'train' ELSE 'eval' END split FROM documents), t AS (SELECT doc_id, split, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) ts FROM s), g AS (SELECT doc_id, split, unnest(list_distinct(list_transform(generate_series(1, len(ts)-4), i -> array_to_string(ts[i:i+4], ' ')))) gram FROM t WHERE len(ts) >= 5), tr AS (SELECT DISTINCT gram FROM g WHERE split='train'), ev AS (SELECT DISTINCT doc_id FROM g WHERE split='eval' AND gram IN (SELECT gram FROM tr)) SELECT (SELECT COUNT(*) FROM s WHERE split='eval') AS n_eval, (SELECT COUNT(*) FROM ev) AS n_contaminated""")),

    // ---- L11b: EMBEDDING-SPACE contamination check — l11's n-gram
    // test misses paraphrase/near-verbatim leakage; modern pipelines
    // also flag eval items whose nearest TRAIN neighbor in embedding
    // space exceeds a cosine threshold. Pure composition of proven
    // pieces: the portable hash-ring split (l09) carves train/eval,
    // the train side becomes a persisted IVF index (cached per
    // session, the l04e pattern), and the indexed probe scores each
    // eval vector's top-1 train neighbor. Contract: planted leaks
    // (exact copies of train vectors under fresh eval ids) must ALL
    // flag — the copy's query vector ranks its source's own list
    // first, so any nProbe>=1 finds it at cos 1.0 — while planted
    // CLEAN vectors (the same vectors negated: cos -1.0 to their
    // source, and >=0.999 to any train vector would need a natural
    // antipodal twin, which the corpus audit rules out) must NOT.
    // Broadcast shape: only the bounded eval+planted set ships with
    // the probe; the train corpus stays bucket-pruned on disk. ----
    ("l11b_embedding_contamination", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val split = graft.operators.Sampling.hashSplit(emb, "vec_id", trainPct = 80)
      val train = split.where(col("split") === "train")
        .select(col("vec_id"), col("embedding"))
      val evalSet = split.where(col("split") === "eval")
        .select(col("vec_id"), col("embedding"))
      val leakSrc = train.where(col("vec_id") < 40)
      val leak = leakSrc.select((col("vec_id") + 700000).as("vec_id"), col("embedding"))
      val clean = leakSrc.select((col("vec_id") + 800000).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
      val table = s"l11b_ivf_${sfTag(d)}"
      if (!s.catalog.tableExists(table) ||
          !s.catalog.tableExists(s"${table}_centroids")) {
        Similarity.dropIvfIndex(s, table) // orphaned location from a prior session
        Similarity.writeIvfIndex(s, train, table, nLists = 16, lloydIters = 1)
      }
      val queries = evalSet.unionByName(leak).unionByName(clean)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val top1 = Similarity.ivfTopKIndexed(s, queries, table, k = 1, nProbe = 2)
      // NaN guard (the l02c rationale): Spark orders NaN above every
      // double, so a zero-norm probe would silently "flag"
      val flagged = top1
        .where(!isnan(col("cos_sim")) && col("cos_sim") >= 0.999)
        .select(col("q_id"))
      val missed = leak.select(col("vec_id").as("q_id"))
        .join(flagged, Seq("q_id"), "left_anti")
        .agg(count(lit(1)).as("missed_planted"))
      missed.crossJoin(leak.agg(count(lit(1)).as("n_planted")))
        .crossJoin(flagged.where(col("q_id") >= 800000)
          .agg(count(lit(1)).as("flagged_clean")))
        .crossJoin(evalSet.agg(count(lit(1)).as("n_eval")))
        .select(col("n_planted"), col("missed_planted"), col("flagged_clean"),
          col("n_eval"))
    }, Some("""WITH s AS (SELECT vec_id, CASE WHEN ((vec_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 % 100 < 80 THEN 'train' ELSE 'eval' END split FROM embeddings) SELECT (SELECT COUNT(*) FROM s WHERE split='train' AND vec_id < 40) AS n_planted, 0 AS missed_planted, 0 AS flagged_clean, (SELECT COUNT(*) FROM s WHERE split='eval') AS n_eval""")),

    // ---- L12: repetition quality signal (Gopher-style) — fraction of
    // a doc's tokens covered by its most frequent bigram. One explode,
    // two partial-agg groupBys on (doc_id, ...) — per-doc work stays
    // distributed; the single final division is one IEEE op, identical
    // in both engines ----
    ("l12_repetition", (s, d) => {
      // short docs (<2 tokens) drop via explode-of-empty — an explicit
      // size guard would be pushed below the __toks projection and
      // re-inline the tokenizer into the filter (see l11)
      Tables.documents(s, d)
        .withColumn("__toks", TF.tokens(col("text")))
        .select(col("doc_id"), size(col("__toks")).as("n"),
          explode(TF.ngramsOfTokens(col("__toks"), 2)).as("bigram"))
        .groupBy(col("doc_id"), col("n"), col("bigram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("n")).agg(max(col("c")).as("top_c"))
        .select(col("doc_id"),
          ((lit(2) * col("top_c")).cast("double") / col("n")).as("top_bigram_share"))
        .orderBy(col("doc_id"))
    }, Some("""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) ts FROM documents), b AS (SELECT doc_id, len(ts) n, unnest(list_transform(generate_series(1, len(ts)-1), i -> array_to_string(ts[i:i+1], ' '))) bigram FROM t WHERE len(ts) >= 2), c AS (SELECT doc_id, n, bigram, COUNT(*) c FROM b GROUP BY 1,2,3), m AS (SELECT doc_id, n, MAX(c) top_c FROM c GROUP BY 1,2) SELECT doc_id, CAST(2*top_c AS DOUBLE)/n AS top_bigram_share FROM m ORDER BY doc_id""")),

    // ---- L13: connected components — the cluster-resolution stage of
    // near-dedup (candidate pairs → duplicate clusters, so chains A≈B≈C
    // collapse to one representative even when A and C are not
    // themselves similar). Edges are built deterministically (two copy
    // generations at offset ids: doc → doc+100k for every 5th doc,
    // doc+100k → doc+200k for every 10th) so the oracle reproduces the
    // graph exactly and a recursive CTE checks the transitive closure.
    // Spark side is alternating large-star/small-star (SoCC'14) —
    // groupBy-min + equi-join rounds, no per-node neighbor lists. ----
    ("l13_connected_components", (s, d) => {
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val e1 = ids.where(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 100000).as("b"))
      val e2 = ids.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("a"), (col("doc_id") + 200000).as("b"))
      graft.operators.Graph.connectedComponents(
          e1.unionByName(e2), "a", "b", nodes = Some(ids))
        .orderBy(col("id"))
    }, Some("""WITH RECURSIVE e0 AS (SELECT doc_id AS a, doc_id + 100000 AS b FROM documents WHERE doc_id % 5 = 0 UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM documents WHERE doc_id % 10 = 0), e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), walk(id, comp) AS (SELECT DISTINCT a, a FROM e UNION SELECT e.b, w.comp FROM walk w JOIN e ON e.a = w.id), fromedges AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id), isolated AS (SELECT doc_id AS id, doc_id AS component FROM documents WHERE doc_id NOT IN (SELECT id FROM fromedges)) SELECT id, component FROM fromedges UNION ALL SELECT id, component FROM isolated ORDER BY id""")),

    // ---- L13b: cluster-dedup recall contract — every planted near-dup
    // pair must land in the SAME cluster after candidate pairs are
    // resolved transitively through connected components. The cluster
    // labels are engine-side, but "zero planted pairs split" is an exact
    // oracle-checkable statement (same pattern as l02d/l02f). Uncapped
    // buckets for the same reason as l02d: the skew cap deliberately
    // trades recall, which would make the 0-split oracle unsound. ----
    ("l13b_cluster_recall", (s, d) => {
      val aug = withNearDups(s, d)
      val clusters = Dedup.nearDupClusters(aug, "text", "doc_id",
        threshold = 0.8, maxBucket = Int.MaxValue)
      val planted = Tables.documents(s, d).where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 200000).as("id_b"))
      val ca = clusters.select(col("doc_id").as("id_a"), col("cluster").as("c_a"))
      val cb = clusters.select(col("doc_id").as("id_b"), col("cluster").as("c_b"))
      planted.join(ca, Seq("id_a")).join(cb, Seq("id_b"))
        .agg(sum(when(col("c_a") =!= col("c_b"), 1L).otherwise(0L)).as("split_pairs"),
          count(lit(1)).as("n_planted"))
    }, Some("""SELECT CAST(0 AS BIGINT) AS split_pairs, COUNT(*) AS n_planted FROM documents WHERE doc_id % 7 = 0""")),

    // ---- L14: sequence packing (concat-and-chunk) — documents laid
    // end-to-end in the portable shuffle order, cut into fixed
    // `seqLen`-token windows, packed independently per ring shard (no
    // global single-partition window — see Packing scaladoc). Output is
    // the per-sequence fill summary; the oracle reproduces the ring
    // arithmetic and the windowed cumulative sum exactly. ----
    ("l14_pack_sequences", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(TF.tokens(col("text"))).as("n_tok"))
      val packed = graft.operators.Packing.packSequences(
        docs, "doc_id", "n_tok", seqLen = 256, shards = 8)
      graft.operators.Packing.sequenceStats(packed, "n_tok")
        .orderBy(col("shard"), col("seq_in_shard"))
    }, Some(s"""WITH t AS (SELECT doc_id, len($tokensSql) AS n_tok, ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 AS key FROM documents), s AS (SELECT doc_id, n_tok, key, key % 8 AS shard FROM t), w AS (SELECT shard, doc_id, n_tok, SUM(n_tok) OVER (PARTITION BY shard ORDER BY key, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM s) SELECT shard, CAST((cum - n_tok) // 256 AS BIGINT) AS seq_in_shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM w GROUP BY 1, 2 ORDER BY shard, seq_in_shard""")),

    // ---- L14b: BIN packing (Krell et al. 2021 — the padding-free-BERT
    // recipe: no document splitting; each doc, truncated to seqLen,
    // goes WHOLE into a fixed-capacity bin; next-fit over the
    // descending-length order, per ring shard). The engine runs it as
    // one shuffle + an in-partition sort + an O(1)-state fold; the
    // oracle replays the identical walk as a DuckDB recursive CTE over
    // the same (capped length DESC, key, doc_id) total order — bin
    // ids, doc counts, token sums, and per-bin padding all exact
    // integers. ----
    ("l14b_pack_bins", (s, d) => {
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), size(TF.tokens(col("text"))).as("n_tok"))
      val packed = graft.operators.Packing.packBins(
        docs, "doc_id", "n_tok", seqLen = 256, shards = 8)
      graft.operators.Packing.binStats(packed, 256)
        .orderBy(col("shard"), col("bin_in_shard"))
    }, Some(s"""WITH RECURSIVE t AS (SELECT doc_id, least(len($tokensSql), 256) AS c, ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 AS key FROM documents WHERE text IS NOT NULL), ranked AS (SELECT doc_id, c, key, key % 8 AS shard, row_number() OVER (PARTITION BY key % 8 ORDER BY c DESC, key, doc_id) AS rk FROM t), walk AS (SELECT shard, rk, c, CAST(0 AS BIGINT) AS bin, c AS fill FROM ranked WHERE rk = 1 UNION ALL SELECT r.shard, r.rk, r.c, CASE WHEN w.fill + r.c <= 256 THEN w.bin ELSE w.bin + 1 END AS bin, CASE WHEN w.fill + r.c <= 256 THEN w.fill + r.c ELSE r.c END AS fill FROM walk w JOIN ranked r ON r.shard = w.shard AND r.rk = w.rk + 1) SELECT shard, bin AS bin_in_shard, COUNT(*) AS n_docs, CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(256 - SUM(c) AS BIGINT) AS n_padding FROM walk GROUP BY 1, 2 ORDER BY shard, bin_in_shard""")),

    // ---- L15: token-budget mixing — keep each language's deterministic
    // prefix up to a 2000-token budget (the "N tokens per source" step
    // of a mixing recipe). The running sum is monotone, so the filter
    // selects an exact prefix per group; the oracle reproduces the ring
    // order and windowed cumsum. ----
    ("l15_token_budget", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(TF.tokens(col("text"))).cast("long").as("n_tok"))
      graft.operators.Sampling.tokenBudget(docs, "doc_id", "n_tok", "lang", budget = 2000)
        .orderBy(col("doc_id"))
    }, Some(s"""WITH t AS (SELECT doc_id, lang, len($tokensSql) AS n_tok, ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 AS key FROM documents), w AS (SELECT doc_id, lang, n_tok, SUM(n_tok) OVER (PARTITION BY lang ORDER BY key, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t) SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok FROM w WHERE cum <= 2000 ORDER BY doc_id""")),

    // ---- L15b: SHARDED token budget — the hot-group scale path: each
    // (lang, ring-shard) runs its own prefix window under budget/nShards,
    // so the dominant language packs across 4 parallel windows instead of
    // one straggler partition. Same portable arithmetic, replayed in SQL. ----
    ("l15b_token_budget_sharded", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(TF.tokens(col("text"))).cast("long").as("n_tok"))
      graft.operators.Sampling.tokenBudgetSharded(docs, "doc_id", "n_tok", "lang",
          budget = 2000, nShards = 4)
        .orderBy(col("doc_id"))
    }, Some(s"""WITH t AS (SELECT doc_id, lang, len($tokensSql) AS n_tok, ((doc_id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 AS key FROM documents), w AS (SELECT doc_id, lang, n_tok, SUM(n_tok) OVER (PARTITION BY lang, key % 4 ORDER BY key, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t) SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok FROM w WHERE cum <= 500 ORDER BY doc_id""")),

    // ---- L8: multimodal envelope — payload byte length, feature dim,
    // frame-sample fan-out (decode is a documented stub; the Spark-side
    // schema/partitioning/fan-out plumbing is what's verified) ----
    ("l08_multimodal", (s, d) => {
      val env = Multimodal.toEnvelope(Tables.documents(s, d), "text", "image", "raw")
      val resized = Multimodal.resize(env, targetBytes = 100)
      val feats = Multimodal.extractFeatures(resized, dim = 8)
      Multimodal.frameSample(feats, nFrames = 4, stride = 2)
        .groupBy(col("doc_id"))
        .agg(first(col("meta.byte_len")).as("byte_len"),
          first(size(col("features"))).as("n_features"),
          count(lit(1)).as("n_frames"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT doc_id, LEAST(octet_length(encode(text)), 100) AS byte_len, 8 AS n_features, CAST(4 AS BIGINT) AS n_frames FROM documents ORDER BY doc_id""")),

    // ---- L8b: HONEST image decode — per row a real 4x3 binary PPM is
    // generated from doc_id (pixel j = (doc_id*7+j) % 251), then decoded
    // by the from-scratch P6 parser; the per-channel means in the output
    // are CONTENT-derived (header fields + raster statistics), and DuckDB
    // independently recomputes them from the seed arithmetic alone — a
    // changed payload would change the features and fail the hash. ----
    ("l08b_ppm_decode", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticPpm(docs, "doc_id", width = 4, height = 3), dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("width"),
          element_at(col("features"), 3).as("height"),
          element_at(col("features"), 5).as("mean_r"),
          element_at(col("features"), 6).as("mean_g"),
          element_at(col("features"), 7).as("mean_b"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT d.doc_id, CAST(1 AS REAL) AS fmt, CAST(4 AS REAL) AS width, CAST(3 AS REAL) AS height, CAST(SUM(CASE WHEN g.j % 3 = 0 THEN (d.doc_id*7 + g.j) % 251 END) / 12.0 AS REAL) AS mean_r, CAST(SUM(CASE WHEN g.j % 3 = 1 THEN (d.doc_id*7 + g.j) % 251 END) / 12.0 AS REAL) AS mean_g, CAST(SUM(CASE WHEN g.j % 3 = 2 THEN (d.doc_id*7 + g.j) % 251 END) / 12.0 AS REAL) AS mean_b FROM documents d, generate_series(0, 35) g(j) GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- L8c: HONEST compressed-image decode — the l08b pattern behind
    // a real codec: per row a 4x3 RGB PNG (raster byte j = (doc_id*7+j)
    // % 251) is ENCODED through the JDK Deflater, then decoded by the
    // from-scratch PNG parser (chunk walk, CRC checks, zlib inflate,
    // scanline unfilter). DuckDB recomputes the expected channel means
    // from the seed arithmetic alone — so a wrong inflate, a misaligned
    // scanline or a broken unfilter changes the features and fails the
    // hash. The stub's domain shrinks to formats whose codecs genuinely
    // aren't in the JDK (JPEG/MP3/video). ----
    ("l08c_png_decode", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticPng(docs, "doc_id", width = 4, height = 3), dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("width"),
          element_at(col("features"), 3).as("height"),
          element_at(col("features"), 4).as("n_channels"),
          element_at(col("features"), 5).as("mean_r"),
          element_at(col("features"), 6).as("mean_g"),
          element_at(col("features"), 7).as("mean_b"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT d.doc_id, CAST(3 AS REAL) AS fmt, CAST(4 AS REAL) AS width, CAST(3 AS REAL) AS height, CAST(3 AS REAL) AS n_channels, CAST(SUM(CASE WHEN g.j % 3 = 0 THEN (d.doc_id*7 + g.j) % 251 END) / 12.0 AS REAL) AS mean_r, CAST(SUM(CASE WHEN g.j % 3 = 1 THEN (d.doc_id*7 + g.j) % 251 END) / 12.0 AS REAL) AS mean_g, CAST(SUM(CASE WHEN g.j % 3 = 2 THEN (d.doc_id*7 + g.j) % 251 END) / 12.0 AS REAL) AS mean_b FROM documents d, generate_series(0, 35) g(j) GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- L8e: Y4M video decode — the VIDEO member of the uncompressed
    // modality family (PPM images, PCM-WAV audio): per row a real C420
    // YUV4MPEG2 stream (4x4, 3 frames; raster byte j = (doc_id*7+j) %
    // 251 across all frames' planes) is generated and decoded by the
    // from-scratch stream parser (header tags, per-frame FRAME markers,
    // 4:2:0 plane geometry). DuckDB recomputes the per-plane means from
    // the seed arithmetic alone — a misparsed header, skipped marker or
    // shifted plane boundary changes the features and fails the hash.
    // The quarantined stub shrinks to genuinely compressed av formats
    // (progressive JPEG / MP3 / coded video). ----
    ("l08e_y4m_decode", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticY4m(docs, "doc_id", width = 4, height = 4, nFrames = 3),
        dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("width"),
          element_at(col("features"), 3).as("height"),
          element_at(col("features"), 4).as("n_frames"),
          element_at(col("features"), 5).as("mean_y"),
          element_at(col("features"), 6).as("mean_u"),
          element_at(col("features"), 7).as("mean_v"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT d.doc_id, CAST(5 AS REAL) AS fmt, CAST(4 AS REAL) AS width, CAST(4 AS REAL) AS height, CAST(3 AS REAL) AS n_frames, CAST(SUM(CASE WHEN g.j % 24 < 16 THEN (d.doc_id*7 + g.j) % 251 END) / 48.0 AS REAL) AS mean_y, CAST(SUM(CASE WHEN g.j % 24 >= 16 AND g.j % 24 < 20 THEN (d.doc_id*7 + g.j) % 251 END) / 12.0 AS REAL) AS mean_u, CAST(SUM(CASE WHEN g.j % 24 >= 20 THEN (d.doc_id*7 + g.j) % 251 END) / 12.0 AS REAL) AS mean_v FROM documents d, generate_series(0, 71) g(j) GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- L8f: G.711 μ-law decode — COMPRESSED audio joins the modality
    // family (baseline JPEG covers images, Y4M video): per row a real
    // mono 8 kHz μ-law WAV whose 16 data bytes derive from doc_id; the
    // from-scratch G.711 expansion (complement / segment / mantissa /
    // re-bias) decodes them, and DuckDB re-derives the SAME formula in
    // SQL from the seed — a wrong segment shift or bias changes every
    // statistic and fails the hash. ----
    ("l08f_mulaw_decode", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticWavMulaw(docs, "doc_id", nSamples = 16), dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("n_channels"),
          element_at(col("features"), 3).as("sample_rate"),
          element_at(col("features"), 4).as("n_samples"),
          element_at(col("features"), 5).as("mean_s"),
          element_at(col("features"), 6).as("rms_s"),
          element_at(col("features"), 7).as("min_s"),
          element_at(col("features"), 8).as("max_s"))
        .orderBy(col("doc_id"))
    }, Some("""WITH b AS (SELECT d.doc_id, 255 - ((d.doc_id*7 + g.j) % 251) AS u FROM documents d, generate_series(0, 15) g(j)), e AS (SELECT doc_id, u, ((u % 128) // 16) AS ex, u % 16 AS man FROM b), sm AS (SELECT doc_id, CASE WHEN u >= 128 THEN 132 - ((man*8 + 132) * (1 << ex)) ELSE ((man*8 + 132) * (1 << ex)) - 132 END AS smp FROM e) SELECT doc_id, CAST(2 AS REAL) AS fmt, CAST(1 AS REAL) AS n_channels, CAST(8000 AS REAL) AS sample_rate, CAST(16 AS REAL) AS n_samples, CAST(SUM(smp) / 16.0 AS REAL) AS mean_s, CAST(sqrt(SUM(smp*smp) / 16.0) AS REAL) AS rms_s, CAST(MIN(smp) AS REAL) AS min_s, CAST(MAX(smp) AS REAL) AS max_s FROM sm GROUP BY doc_id ORDER BY doc_id""")),

    // ---- L8d: baseline JPEG decode — the compressed-codec leg of the
    // multimodal family, entirely from-scratch (ITU T.81: Huffman entropy
    // decode, dequantize, IDCT). Lossy codecs are made oracle-checkable
    // by construction: per doc a 16×16 grayscale JPEG whose four 8×8
    // blocks are CONSTANT values (seed*7 + b) % 251 under a unit quant
    // table — constant blocks survive the DCT round trip exactly, so the
    // decoded mean is (Σ_b v_b) / 4 recomputable from the seed alone.
    // DuckDB replays that arithmetic; the lossy path (non-constant
    // content, Annex K tables) is cross-checked against the JDK's
    // independent decoder in MultimodalSpec with the documented ±2
    // IDCT-rounding tolerance. ----
    ("l08d_jpeg_decode", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticJpeg(docs, "doc_id", width = 16, height = 16), dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("width"),
          element_at(col("features"), 3).as("height"),
          element_at(col("features"), 4).as("n_channels"),
          element_at(col("features"), 5).as("mean_gray"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT d.doc_id, CAST(4 AS REAL) AS fmt, CAST(16 AS REAL) AS width, CAST(16 AS REAL) AS height, CAST(1 AS REAL) AS n_channels, CAST(SUM((d.doc_id*7 + g.j) % 251) / 4.0 AS REAL) AS mean_gray FROM documents d, generate_series(0, 3) g(j) GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- L8g: PROGRESSIVE JPEG decode (SOF2, T.81 Annex G) — the same
    // block-constant fixture as l08d but delivered across a DC-first +
    // DC-refinement + AC-band scan script; unit quant keeps the decode
    // exact, so the same seed-only oracle applies ----
    ("l08g_progressive_decode", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticJpegProgressive(docs, "doc_id", width = 16, height = 16), dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("width"),
          element_at(col("features"), 3).as("height"),
          element_at(col("features"), 4).as("n_channels"),
          element_at(col("features"), 5).as("mean_gray"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT d.doc_id, CAST(4 AS REAL) AS fmt, CAST(16 AS REAL) AS width, CAST(16 AS REAL) AS height, CAST(1 AS REAL) AS n_channels, CAST(SUM((d.doc_id*7 + g.j) % 251) / 4.0 AS REAL) AS mean_gray FROM documents d, generate_series(0, 3) g(j) GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- L8h: COMPRESSED video decode — AVI/MJPEG demux (RIFF walk,
    // stream match, per-frame JPEG decode): per row a real 3-frame AVI
    // whose 8x8 block b of frame f holds (doc_id*7 + f*4 + b) % 251, so
    // block index j = f*4 + b runs 0..11 and DuckDB re-derives every
    // mean from the seed alone. First/last-frame means pin that frame
    // ORDER survived the demux — a swapped or dropped movi chunk fails
    // the hash even when the whole-clip mean happens to agree. ----
    ("l08h_mjpeg_decode", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticAviMjpeg(docs, "doc_id", width = 16, height = 16,
          nFrames = 3), dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("width"),
          element_at(col("features"), 3).as("height"),
          element_at(col("features"), 4).as("n_frames"),
          element_at(col("features"), 5).as("n_channels"),
          element_at(col("features"), 6).as("mean_all"),
          element_at(col("features"), 7).as("mean_first"),
          element_at(col("features"), 8).as("mean_last"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT d.doc_id, CAST(6 AS REAL) AS fmt, CAST(16 AS REAL) AS width, CAST(16 AS REAL) AS height, CAST(3 AS REAL) AS n_frames, CAST(1 AS REAL) AS n_channels, CAST(SUM((d.doc_id*7 + g.j) % 251) / 12.0 AS REAL) AS mean_all, CAST(SUM(CASE WHEN g.j < 4 THEN (d.doc_id*7 + g.j) % 251 END) / 4.0 AS REAL) AS mean_first, CAST(SUM(CASE WHEN g.j >= 8 THEN (d.doc_id*7 + g.j) % 251 END) / 4.0 AS REAL) AS mean_last FROM documents d, generate_series(0, 11) g(j) GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- L8i: MP3 metadata extraction — the HONEST header level of the
    // MP3 family (frame-sync walk, bitrate/rate tables, VBR mean,
    // ID3v2/v1 skip): the facts a corpus pipeline filters on (rate,
    // channels, frames, bitrate, duration), all recomputed by DuckDB
    // from the seed arithmetic. Sample decode stays quarantined (see
    // decodeMp3Meta's doc) — no fake sample statistics appear here. ----
    ("l08i_mp3_meta", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticMp3(docs, "doc_id"), dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("sample_rate"),
          element_at(col("features"), 3).as("n_channels"),
          element_at(col("features"), 4).as("n_frames"),
          element_at(col("features"), 5).as("layer"),
          element_at(col("features"), 6).as("mean_kbps"),
          element_at(col("features"), 7).as("duration_sec"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT d.doc_id, CAST(7 AS REAL) AS fmt, CAST(44100 AS REAL) AS sample_rate, CAST(1 AS REAL) AS n_channels, CAST(3 + d.doc_id % 5 AS REAL) AS n_frames, CAST(3 AS REAL) AS layer, CAST(AVG(CASE (d.doc_id + g.f) % 3 WHEN 0 THEN 128 WHEN 1 THEN 160 ELSE 192 END) AS REAL) AS mean_kbps, CAST((3 + d.doc_id % 5) * 1152 / 44100.0 AS REAL) AS duration_sec FROM documents d, generate_series(0, 6) g(f) WHERE g.f < 3 + d.doc_id % 5 GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- L8j: GIF decode — LZW-compressed palettized images join the
    // codec family: per row a real 2-frame 4x3 GIF89a (palette index j,
    // counted across frames, = (doc_id*7+j) % 251; palette entry i =
    // (i, 2i mod 256, 3i mod 256)) crosses the full decode path — block
    // walk, variable-width LZW, palette mapping — and DuckDB recomputes
    // the expected channel means from the seed arithmetic alone. A
    // wrong LZW reset width, palette offset or frame order changes the
    // means and fails the hash. ----
    ("l08j_gif_decode", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticGif(docs, "doc_id", width = 4, height = 3, nFrames = 2), dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("width"),
          element_at(col("features"), 3).as("height"),
          element_at(col("features"), 4).as("n_frames"),
          element_at(col("features"), 5).as("mean_r"),
          element_at(col("features"), 6).as("mean_g"),
          element_at(col("features"), 7).as("mean_b"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT d.doc_id, CAST(8 AS REAL) AS fmt, CAST(4 AS REAL) AS width, CAST(3 AS REAL) AS height, CAST(2 AS REAL) AS n_frames, CAST(SUM((d.doc_id*7 + g.j) % 251) / 24.0 AS REAL) AS mean_r, CAST(SUM(((d.doc_id*7 + g.j) % 251 * 2) % 256) / 24.0 AS REAL) AS mean_g, CAST(SUM(((d.doc_id*7 + g.j) % 251 * 3) % 256) / 24.0 AS REAL) AS mean_b FROM documents d, generate_series(0, 23) g(j) GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- L8k: BMP decode — the l08b PPM oracle behind the Windows
    // bitmap container: the top-down RGB raster byte j = (doc_id*7+j)
    // % 251 survives the BGR swap, 4-byte row padding and bottom-up
    // row order, so the channel means match PPM's formula exactly with
    // format tag 9. Any flip/swap/padding mistake fails the hash. ----
    ("l08k_bmp_decode", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticBmp(docs, "doc_id", width = 5, height = 3), dim = 8)
      feats.select(col("doc_id"),
          element_at(col("features"), 1).as("fmt"),
          element_at(col("features"), 2).as("width"),
          element_at(col("features"), 3).as("height"),
          element_at(col("features"), 4).as("bpp"),
          element_at(col("features"), 5).as("mean_r"),
          element_at(col("features"), 6).as("mean_g"),
          element_at(col("features"), 7).as("mean_b"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT d.doc_id, CAST(9 AS REAL) AS fmt, CAST(5 AS REAL) AS width, CAST(3 AS REAL) AS height, CAST(24 AS REAL) AS bpp, CAST(SUM(CASE WHEN g.j % 3 = 0 THEN (d.doc_id*7 + g.j) % 251 END) / 15.0 AS REAL) AS mean_r, CAST(SUM(CASE WHEN g.j % 3 = 1 THEN (d.doc_id*7 + g.j) % 251 END) / 15.0 AS REAL) AS mean_g, CAST(SUM(CASE WHEN g.j % 3 = 2 THEN (d.doc_id*7 + g.j) % 251 END) / 15.0 AS REAL) AS mean_b FROM documents d, generate_series(0, 44) g(j) GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- L16: Z-ordered layout — lineitem rewritten Morton-clustered on
    // (l_partkey, l_suppkey), then a 2-d box filter over the clustered
    // copy. The layout is a pure reorder, so the oracle is the same
    // filter on the RAW table — any row the rewrite dropped, duplicated
    // or mutated fails the hash. The pruning (the reorder's point — each
    // file covers a narrow range of BOTH columns, so min/max stats skip
    // on either) is measured in LayoutSpec against a linear sort. ----
    ("l16_zorder", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
      val path = s.conf.get("spark.sql.warehouse.dir") + "/l16_zorder_data"
      graft.operators.Layout.writeZOrdered(li, path,
        Seq("l_partkey", "l_suppkey"), numFiles = 32)
      s.read.parquet(path)
        .where(col("l_partkey").between(20, 150) && col("l_suppkey").between(2, 5))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
    }, Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem WHERE l_partkey BETWEEN 20 AND 150 AND l_suppkey BETWEEN 2 AND 5 ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""")),

    // ---- L16b: quantile (equal-frequency) z-order — the skew-robust
    // grid (per-column approxQuantile boundaries instead of equi-width;
    // on a power-law column the equi-width grid collapses into one cell
    // — measured 5.5x decode difference in LayoutSpec). Same purity
    // oracle as l16: the rewrite is a pure reorder. ----
    ("l16b_zorder_quantile", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
      val path = s.conf.get("spark.sql.warehouse.dir") + "/l16b_zorder_data"
      graft.operators.Layout.writeZOrderedQuantile(li, path,
        Seq("l_partkey", "l_suppkey"), numFiles = 32)
      s.read.parquet(path)
        .where(col("l_partkey").between(20, 150) && col("l_suppkey").between(2, 5))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
    }, Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem WHERE l_partkey BETWEEN 20 AND 150 AND l_suppkey BETWEEN 2 AND 5 ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""")),

    // ---- L16c: Hilbert-curve layout — the connected-locality variant of
    // l16 (Skilling's transform over the same equi-width ranks; every
    // file covers a CONNECTED region, so a box straddling a Morton
    // octant boundary reads fewer files — measured against Morton in
    // LayoutSpec). Purity oracle identical to l16: the curve choice only
    // permutes row order, never rows. ----
    ("l16c_zorder_hilbert", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
      val path = s.conf.get("spark.sql.warehouse.dir") + "/l16c_zorder_data"
      graft.operators.Layout.writeZOrdered(li, path,
        Seq("l_partkey", "l_suppkey"), numFiles = 32, curve = "hilbert")
      s.read.parquet(path)
        .where(col("l_partkey").between(20, 150) && col("l_suppkey").between(2, 5))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
    }, Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem WHERE l_partkey BETWEEN 20 AND 150 AND l_suppkey BETWEEN 2 AND 5 ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""")),

    // ---- L17: BPE vocabulary training (Sennrich 2016) — learn merges
    // on the distinct-word dictionary (one groupBy shuffle reduces the
    // corpus to the vocabulary; every iteration is a partial-aggregated
    // pair count + a ONE-row TakeOrdered driver pull). The merge table
    // itself is rows-only by design (no SQL engine trains BPE); its
    // oracle-green contract sibling is l17b below. ----
    ("l17_bpe_merges", (s, d) => {
      val docs = Tables.documents(s, d).select(col("text"))
      val merges = graft.operators.Bpe.learnMerges(
        graft.operators.Bpe.wordDict(docs, "text"), k = 8)
      graft.operators.Bpe.mergesDf(s, merges).orderBy(col("rank"))
    }, None),

    // ---- L17b: BPE reconstruction contract — apply the learned merges
    // back to the corpus and claim, per document, (a) the total
    // CHARACTER length of the produced subword tokens and (b) token
    // count + independently-counted merge events. BOTH must equal the
    // document's whitespace-free character count, which DuckDB computes
    // directly from the raw text: a tokenizer that drops, duplicates or
    // splits a character, or merge bookkeeping that miscounts a single
    // event, shifts a claimed number and fails the hash — while the
    // learned vocabulary itself stays engine-side (data-dependent). ----
    ("l17b_bpe_reconstruction", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val merges = graft.operators.Bpe.learnMerges(
        graft.operators.Bpe.wordDict(docs, "text"), k = 8)
      val applied = graft.operators.Bpe.applyBpe(docs, "text", merges)
      applied.select(col("doc_id"),
          aggregate(transform(col("bpe_tokens"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).as("n_chars"),
          (size(col("bpe_tokens")).cast("long") + col("bpe_merge_events")).as("n_units"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT doc_id, CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS BIGINT) AS n_chars, CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS BIGINT) AS n_units FROM documents ORDER BY doc_id""")),

    // ---- L17c: PERSISTED vocabulary — train once, save as a managed
    // table (the BPE sibling of the persisted IVF index / band
    // history), tokenize from the catalog: k rows in, broadcast with
    // the task, corpus never shuffles. Same reconstruction contract as
    // l17b, now through the write→read→apply path; per-SF table names
    // keep a persisted vocab from serving a different scale's data ----
    ("l17c_bpe_persisted", (s, d) => {
      val table = s"l17c_vocab_${sfTag(d)}"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (!s.catalog.tableExists(table)) {
        graft.operators.Layout.dropTableAndLocation(s, table) // stale location
        graft.operators.Bpe.writeVocab(s, graft.operators.Bpe.learnMerges(
          graft.operators.Bpe.wordDict(docs, "text"), k = 8), table)
      }
      val applied = graft.operators.Bpe.applyBpeFromTable(s, docs, "text", table)
      applied.select(col("doc_id"),
          aggregate(transform(col("bpe_tokens"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).as("n_chars"),
          (size(col("bpe_tokens")).cast("long") + col("bpe_merge_events")).as("n_units"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT doc_id, CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS BIGINT) AS n_chars, CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS BIGINT) AS n_units FROM documents ORDER BY doc_id""")),

    // ---- L42: TRAINED quality classifier (the GPT-3 appendix-A /
    // DCLM corpus recipe): logistic regression over hashed token
    // features, positives = the clean originals, negatives = their
    // alphabet-permuted gibberish siblings (the l27b plant — letter
    // statistics scrambled, token shapes kept). Two full-batch GD
    // epochs on the 1e-6 integer grid; the feature hash is an explicit
    // per-char polynomial fold, so DuckDB RETRAINS the identical
    // quantized model and rescores from scratch — and the two engines
    // score via DIFFERENT strategies (Spark: per-row map-literal fold,
    // the 100 TB hot path; DuckDB: explode + join + groupBy) that must
    // agree bit-for-bit on every integer micro-probability. ----
    ("l39_quality_classifier", (s, d) => {
      import graft.operators.{QualityClassifier => QC}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val pos = docs.select((col("doc_id") * 2).as("id"), col("text"),
        lit(1).as("y"))
      val neg = docs.select((col("doc_id") * 2 + 1).as("id"),
        translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
          "zyxwvutsrqponmlkjihgfedcba").as("text"), lit(0).as("y"))
      val train = pos.unionByName(neg)
      val model = QC.train(train, "text", "id", "y",
        dim = 512, epochs = 2, lr = 0.5)
      train.select(col("id"), col("y"),
          QC.scoreMicroColumn(col("text"), model).as("p_micro"))
        .orderBy(col("id"))
    }, Some(l39OracleSql)),

    // ---- L42c: PERSISTED classifier — train once, save as managed
    // tables (the writeLm/l17c discipline), score from the catalog:
    // ≤ dim+1 rows load in one bounded pull and broadcast with the
    // plan, the corpus never shuffles. Same oracle as l39 — the
    // write→read round-trip is exact on the integer grid, so the
    // catalog-loaded model must reproduce the in-memory scores
    // bit-for-bit. Per-SF table names (the sfTag discipline). ----
    ("l39c_classifier_persisted", (s, d) => {
      import graft.operators.{QualityClassifier => QC}
      val table = s"l39c_model_${sfTag(d)}"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val pos = docs.select((col("doc_id") * 2).as("id"), col("text"),
        lit(1).as("y"))
      val neg = docs.select((col("doc_id") * 2 + 1).as("id"),
        translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
          "zyxwvutsrqponmlkjihgfedcba").as("text"), lit(0).as("y"))
      val train = pos.unionByName(neg)
      if (!QC.modelExists(s, table)) {
        QC.dropModel(s, table) // stale location from a prior session
        QC.writeModel(s, QC.train(train, "text", "id", "y",
          dim = 512, epochs = 2, lr = 0.5), table)
      }
      val model = QC.readModel(s, table)
      train.select(col("id"), col("y"),
          QC.scoreMicroColumn(col("text"), model).as("p_micro"))
        .orderBy(col("id"))
    }, Some(l39OracleSql)),

    // ---- L42d: Pareto-NOISY thresholding — GPT-3's exact keep rule
    // (appendix A: keep iff β > 1 − score, β ~ Pareto(9); low scorers
    // still enter with probability (2−score)^−9, preserving tail
    // diversity). β is drawn deterministically from the portable hash
    // ring and quantized to the grid, so DuckDB restates the ENTIRE
    // rule — retrain, rescore, draw, compare — on top of the l39
    // oracle. ----
    ("l39d_pareto_keep", (s, d) => {
      import graft.operators.{QualityClassifier => QC}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val pos = docs.select((col("doc_id") * 2).as("id"), col("text"),
        lit(1).as("y"))
      val neg = docs.select((col("doc_id") * 2 + 1).as("id"),
        translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
          "zyxwvutsrqponmlkjihgfedcba").as("text"), lit(0).as("y"))
      val train = pos.unionByName(neg)
      val model = QC.train(train, "text", "id", "y",
        dim = 512, epochs = 2, lr = 0.5)
      train.where(QC.paretoKeeps(col("text"), col("id"), model))
        .select(col("id"), col("y")).orderBy(col("id"))
    }, Some(s"""WITH scored AS ($l39OracleSql) SELECT id, y FROM scored WHERE p_micro IS NULL OR CAST(round((power(1.0 - ((((id % 2147483647 + 2147483647) % 2147483647) * 2654435761 + 104729) % 2147483647) / 2147483647.0, -1.0/9.0) - 1.0) * 1000000) AS BIGINT) > 1000000 - p_micro ORDER BY id""")),

    // ---- L42b: classifier CONTRAST contract — the l27b planted
    // pattern: after training, every document's gibberish sibling must
    // score strictly BELOW the original (pairs where the involution
    // actually changed the text — a letterless doc is its own sibling
    // and scores identically by construction). Closed-form oracle;
    // measured margin at sf0.01: negatives max 0.14, positives min
    // 0.83 on the probability scale. ----
    ("l39b_classifier_contrast", (s, d) => {
      import graft.operators.{QualityClassifier => QC}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val pos = docs.select((col("doc_id") * 2).as("id"), col("text"),
        lit(1).as("y"))
      val neg = docs.select((col("doc_id") * 2 + 1).as("id"),
        translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
          "zyxwvutsrqponmlkjihgfedcba").as("text"), lit(0).as("y"))
      val train = pos.unionByName(neg)
      val model = QC.train(train, "text", "id", "y",
        dim = 512, epochs = 2, lr = 0.5)
      val scored = train.where(col("text").isNotNull)
        .select(col("id"), col("y"), col("text"),
          QC.scoreMicroColumn(col("text"), model).as("p"))
      val pairs = scored.where(col("y") === 1)
        .select(col("id").as("oid"), col("p").as("p_orig"),
          col("text").as("t_orig"))
        .join(scored.where(col("y") === 0)
          .select((col("id") - 1).as("oid"), col("p").as("p_gib"),
            col("text").as("t_gib")), Seq("oid"))
        .where(col("t_orig") =!= col("t_gib"))
      pairs.agg(
        count(when(col("p_gib") >= col("p_orig"), 1)).as("violations"),
        count(lit(1)).as("n_pairs"))
    }, Some("""SELECT 0 AS violations, COUNT(*) AS n_pairs FROM documents WHERE text IS NOT NULL AND regexp_matches(text, '[a-z]')""")),

    // ---- L43: URL canonicalization + dedup (RefinedWeb §3.1 / CCNet
    // practice — dedup by canonicalized URL BEFORE content costs
    // anything). Deterministic URL fixture off doc_id: five variants
    // per (host, path) class — plain, cased + trailing slash, default
    // port + tracking params, kept param + tracking + fragment,
    // fragment — of which four collapse to one canonical form and the
    // kept-param variant forms its own; NULL urls pass through. The
    // oracle restates the ENTIRE regex chain and the keep-min rule. ----
    ("l40_url_dedup", (s, d) => {
      import graft.operators.{UrlOps => U}
      val u = urlFixture(Tables.documents(s, d).select(col("doc_id")))
      U.urlDedup(u, "url", "doc_id")
        .select(col("doc_id"), U.canonicalizeUrl(col("url")).as("curl"))
        .orderBy(col("doc_id"))
    }, Some(s"""WITH u0 AS ($urlFixtureSql), c AS (SELECT doc_id, url, $canonUrlSql AS curl FROM u0), k AS (SELECT curl, MIN(doc_id) AS m FROM c WHERE curl IS NOT NULL GROUP BY 1) SELECT c.doc_id, c.curl FROM c LEFT JOIN k ON c.curl = k.curl WHERE c.curl IS NULL OR c.doc_id = k.m ORDER BY doc_id""")),

    // ---- L43b: host-level aggregates over canonical URLs (the
    // blocklist / host-quality filtering input — RefinedWeb URL
    // scoring, Dolma domain filters): per host, total rows, distinct
    // canonical URLs, duplicated rows. ----
    ("l40b_host_agg", (s, d) => {
      import graft.operators.{UrlOps => U}
      val u = urlFixture(Tables.documents(s, d).select(col("doc_id")))
      U.hostAggregates(u, "url", "doc_id").orderBy(col("host"))
    }, Some(s"""WITH u0 AS ($urlFixtureSql), c AS (SELECT doc_id, $canonUrlSql AS curl FROM u0), pu AS (SELECT regexp_extract(curl, '^[^:/?#]+://([^/:?#]*)', 1) AS host, curl, COUNT(*) AS nu FROM c WHERE curl IS NOT NULL GROUP BY 1, 2) SELECT host, CAST(SUM(nu) AS BIGINT) AS n_rows, COUNT(*) AS n_urls, CAST(SUM(nu) AS BIGINT) - COUNT(*) AS n_dup_rows FROM pu GROUP BY host ORDER BY host""")),

    // ---- L43c: INCREMENTAL URL dedup vs a persisted canonical-URL
    // history (the CCNet cross-batch shape — the exact-hash `_xh`
    // machinery over the canonical string, own `<table>_url` base).
    // History built once per (session, SF) from the l40 fixture; the
    // probe batch re-presents every base class under SHIFTED ids (all
    // die unless their class never produced a non-NULL base url — the
    // oracle restates membership over the canonical STRINGS, so that
    // edge is priced in) plus fresh hosts and NULLs (all survive). ----
    ("l40c_url_incremental", (s, d) => {
      import graft.operators.{UrlOps => U}
      val table = s"l40c_hist_${sfTag(d)}"
      val base = urlFixture(Tables.documents(s, d).select(col("doc_id")))
      if (!s.catalog.tableExists(s"${table}_url_xh")) {
        Dedup.UrlHistory.drop(s, table) // stale location from a prior session
        Dedup.UrlHistory.ensure(s, table, base.schema("doc_id"), 8)
        U.appendUrlHistoryDelta(s, base, "url", "doc_id", table, 0L)
        Dedup.UrlHistory.fold(s, table)
      }
      val batch = base
        .select((col("doc_id") + 500000).as("doc_id"), col("url"))
        .unionByName(Tables.documents(s, d)
          .select((col("doc_id") + 900000).as("doc_id"),
            concat(lit("http://fresh"), col("doc_id").cast("string"),
              lit(".example.com/")).as("url")))
      U.urlIncrementalDelta(s, batch, table, "url", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some(s"""WITH u0 AS ($urlFixtureSql), c AS (SELECT DISTINCT $canonUrlSql AS curl FROM u0 WHERE url IS NOT NULL), b AS (SELECT doc_id + 500000 AS doc_id, url FROM u0 UNION ALL SELECT doc_id + 900000 AS doc_id, 'http://fresh' || doc_id || '.example.com/' AS url FROM documents), bc AS (SELECT doc_id, $canonUrlSql AS curl FROM b) SELECT doc_id FROM bc WHERE curl IS NULL OR curl NOT IN (SELECT curl FROM c) ORDER BY doc_id""")),

    // ---- L43d: frozen host-blocklist filtering (RefinedWeb §3.1 URL
    // filtering — the leg that APPLIES what hostAggregates computes):
    // a curated blocklist broadcasts into one anti join on the
    // canonical host; NULL urls pass. The membership is restated over
    // the URL strings in SQL. ----
    ("l40d_host_filter", (s, d) => {
      import graft.operators.{UrlOps => U}
      val u = urlFixture(Tables.documents(s, d).select(col("doc_id")))
      import s.implicits._
      val blocked = Seq("site0.example.com", "site7.example.com",
        "site13.example.com").toDF("host")
      U.hostFilter(u, "url", blocked)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some(s"""WITH u0 AS ($urlFixtureSql), c AS (SELECT doc_id, url, $canonUrlSql AS curl FROM u0) SELECT doc_id FROM c WHERE url IS NULL OR regexp_extract(curl, '^[^:/?#]+://([^/:?#]*)', 1) NOT IN ('site0.example.com', 'site7.example.com', 'site13.example.com') ORDER BY doc_id""")),

    // ---- L45: the Gopher repetition/quality rule pack (Rae et al.
    // 2021 table A1 — the full published filter family Dolma/RefinedWeb
    // reuse; l12 proves the top-n-gram sub-piece). Spark computes all
    // fourteen metrics as IN-ROW sorted-run folds (zero exchanges —
    // fifteen metrics via the l12 explode+groupBy shape would be
    // fifteen shuffles); DuckDB regroups relationally per doc — a
    // genuine cross-strategy differential. Planted fixture: one doc
    // per rule class, each violating exactly the rule its spec flag
    // asserts; real corpus docs flow through both engines too. ----
    ("l41_gopher_rules", (s, d) => {
      import graft.operators.{GopherRules => G}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(gopherPlantDf(s))
      val withM = docs.select(col("doc_id"), col("text"),
        G.metrics(col("text")).as("__m"))
      val fields = Seq("n_words", "mean_word_len", "alpha_frac", "n_stop",
        "symbol_ratio", "bullet_frac", "ellipsis_frac", "dup_line_frac",
        "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac",
        "top2_char_frac", "top3_char_frac", "top4_char_frac")
      withM.select(col("doc_id") +:
          fields.map(x => col("__m").getField(x).as(x)) :+
          (col("text").isNull ||
            G.allOk(G.ruleFlags(col("__m"), G.Config()))).as("keep"): _*)
        .orderBy(col("doc_id"))
    }, Some(gopherOracleSql)),

    // ---- L46: TRAINED language ID (CCNet stage 1 — fastText-style
    // one-vs-rest linear heads over hashed char bigrams; l05b is the
    // heuristic this supersedes). Languages are synthesized via
    // deterministic alphabet permutations keyed off the corpus `lang`
    // tag (the texts share one vocabulary, so the permutations ARE the
    // separable signal). The oracle retrains all three heads from
    // scratch (shared feature CTE, per-head label chains) and
    // re-derives the argmax routing — integer micro-probabilities AND
    // the predicted language bit-equal. ----
    ("l42_langid", (s, d) => {
      import graft.operators.{LangId => LI}
      val fx = langFixture(s, d)
      val model = LI.train(fx, "text", "doc_id", "lang", LangIdLangs,
        dim = 256, epochs = 2, lr = 0.5, ngram = 2)
      fx.select(col("doc_id"), col("lang"), col("text"),
          LI.scoresMicro(col("text"), model).as("__p"))
        .select(col("doc_id") +: col("lang") +:
          LangIdLangs.map(l => col(s"__p.$l").as(s"p_$l")) ++:
          // routing + confidence floor derived from the projected
          // scores struct — the scoring folds run once, not thrice
          Seq(LI.bestScoreFromScores(col("__p"), model).as("best_micro"),
            LI.predictFromScores(col("__p"), model).as("pred"),
            // the gate rule (argmax membership AND the CCNet
            // confidence floor) composed from the PROJECTED scores —
            // the K scoring folds run once, not twice; restated
            // relationally by the oracle
            (col("text").isNull || LI.keepsFromScores(col("__p"), model,
              LangIdLangs.toSet, LangIdFloorMicro)).as("keep")): _*)
        .orderBy(col("doc_id"))
    }, Some(langIdOracleSql(256))),

    // ---- L46b: held-out routing contract — train on the 80% hash
    // ring ([[graft.operators.Sampling.hashBucket]], the l02i split),
    // predict the held-out 20%: every held-out doc must route home
    // (the permutations make the classes linearly separable with wide
    // margin; measured micro-probability gap at sf0.01 ≫ the 1-ulp
    // exposure). Closed-form oracle restates the ring split. ----
    ("l42b_langid_holdout", (s, d) => {
      import graft.operators.{LangId => LI, Sampling}
      val fx = langFixture(s, d)
      val trainFx = fx.where(Sampling.hashBucket("doc_id") < 80)
      val evalFx = fx.where(Sampling.hashBucket("doc_id") >= 80)
      val model = LI.train(trainFx, "text", "doc_id", "lang", LangIdLangs,
        dim = 256, epochs = 2, lr = 0.5, ngram = 2)
      evalFx.select(col("lang"), LI.predict(col("text"), model).as("pred"))
        .agg(count(when(col("pred") =!= col("lang"), 1)).as("violations"),
          count(lit(1)).as("n_eval"))
    }, Some(s"""WITH fx AS ($langFixtureSql) SELECT 0 AS violations, COUNT(*) AS n_eval FROM fx WHERE ((id % 2147483647 + 2147483647) % 2147483647 * 2654435761 + 104729) % 2147483647 % 100 >= 80""")),

    // ---- L47: DSIR — data selection via importance resampling (Xie
    // et al. 2023). Spark scores log-weights via the per-row
    // map-literal fold and selects via TakeOrderedAndProject; DuckDB
    // RETRAINS both bag-of-hashed-n-gram models from scratch
    // (explode + regroup), re-derives every λ, every log-weight, every
    // deterministic Gumbel draw, and the top-k membership via a rank
    // window — a full cross-strategy differential, integers end to
    // end. Target sample = doc_id % 5 == 0, raw = the rest. ----
    ("l43_dsir", (s, d) => {
      import graft.operators.{Dsir => DS}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val m = DS.train(docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0), "text", dim = 256)
      val top = DS.selectTopK(docs, "text", "doc_id", m, 100)
        .select(col("doc_id").as("__sid"))
      docs.select(col("doc_id"),
          DS.logWeightMicro(col("text"), m).as("logw_micro"),
          DS.keyMicro(col("text"), col("doc_id"), m).as("key_micro"))
        .join(broadcast(top), col("doc_id") === col("__sid"), "left")
        .select(col("doc_id"), col("logw_micro"), col("key_micro"),
          col("__sid").isNotNull.as("selected"))
        .orderBy(col("doc_id"))
    }, Some(dsirOracleSql)),

    // ---- L47b: DSIR contrast contract — with target = the clean
    // slice and raw = held-out originals ∪ their alphabet-permuted
    // gibberish twins, every held-out original must out-weigh its twin
    // (the distribution-matching claim, the l39b pattern). The oracle
    // recomputes the violation count through its own retrain. ----
    ("l43b_dsir_contrast", (s, d) => {
      import graft.operators.{Dsir => DS}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .where(col("text").isNotNull)
      val held = docs.where(col("doc_id") % 5 =!= 0)
      val gibText = translate(col("text"), Abc, Abc.reverse)
      val m = DS.train(docs.where(col("doc_id") % 5 === 0),
        held.unionByName(held.select(col("doc_id"), gibText.as("text"))),
        "text", dim = 1024)
      held.select(DS.logWeightMicro(col("text"), m).as("__lo"),
          DS.logWeightMicro(gibText, m).as("__lg"))
        .agg(count(when(col("__lo") <= col("__lg"), 1)).as("violations"),
          count(lit(1)).as("n_pairs"))
    }, Some(dsirContrastOracleSql)),

    // ---- L49: the C4 line-level rule pack + bad-word blocklist
    // (Raffel et al. 2020 §2.2 — line surgery: each line passes its
    // own rules, the doc is REBUILT from survivors, then doc-level
    // rules judge the rebuilt text). Spark runs the whole surgery as
    // in-row array folds (zero exchanges); DuckDB restates it with
    // list_filter + array_to_string from the SAME Config — every
    // compared quantity an engine-exact integer or membership. Planted
    // fixture: one doc per rule class; real corpus docs flow too. ----
    ("l44_c4_rules", (s, d) => {
      import graft.operators.{C4Rules => C4}
      val cfg = C4.Config()
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(c4PlantDf(s))
      docs.select(col("doc_id"), col("text"),
          // one surgery pass: the rebuilt text binds once and the
          // metric struct derives from the bound slot (bindOnce)
          TF.bindOnce(C4.cleanedText(col("text"), cfg)) { ct =>
            struct(ct.as("ct"), C4.metricsOfCleaned(ct, cfg).as("m"))
          }.as("__cm"))
        .select(col("doc_id"),
          col("__cm.ct").as("clean_text"),
          col("__cm.m.n_kept").as("n_kept"),
          col("__cm.m.n_sentences").as("n_sentences"),
          col("__cm.m.has_lorem").as("has_lorem"),
          col("__cm.m.has_brace").as("has_brace"),
          col("__cm.m.has_bad_word").as("has_bad_word"),
          (col("text").isNull || C4.allOk(col("__cm.m"), cfg)).as("keep"))
        .orderBy(col("doc_id"))
    }, Some(c4OracleSql)),

    // ---- L50: WARC/WET container intake (ISO 28500 — the CommonCrawl
    // record grammar every public pipeline starts from). The row
    // packs documents into 8 WET containers (odd buckets gzip'd, one
    // member per record — the CommonCrawl layout), plants a malformed
    // record on bucket 3, parses everything back through the
    // from-scratch grammar walk, and the oracle restates the extracted
    // (url, page_text, type, length, malformed-count) set in CLOSED
    // FORM from documents — a full pack → (gzip) → parse → extract
    // round trip whose output must equal never-touched rows. ----
    ("l45_warc_intake", (s, d) => {
      import graft.sources.Warc
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"),
          concat(lit("http://w"), col("doc_id"), lit(".example.com/p"))
            .as("url"),
          col("text"), (col("doc_id") % 8).as("bucket"))
      val packed = Warc.packWet(docs, "bucket", "url", "text",
        gzipOdd = true)
      // plants: undeclared garbage after bucket 2's records — parsing
      // must count exactly one malformed unit there and zero elsewhere
      // (a PLAIN bucket on purpose: the JDK gzip reader stops silently
      // at the last valid member, so garbage after a gzip'd container
      // is unreachable by construction — pinned in WarcSpec) — and a
      // Content-Encoding: gzip response record on bucket 4 whose body
      // must inflate back to its plaintext (the real-crawl shape,
      // VERDICT r18 #3).
      val planted = packed.withColumn("warc",
        when(col("bucket") === 2,
          concat(col("warc"),
            lit("WARC/1.0\r\nbroken header no terminator".getBytes(
              java.nio.charset.StandardCharsets.UTF_8))))
          .when(col("bucket") === 4, concat(col("warc"), lit(l45CeRecord)))
          .otherwise(col("warc")))
      Warc.pages(planted, "warc")
        .select(col("url"), col("page_text"), col("warc_type"),
          col("content_length"), col("malformed"))
        .orderBy(col("url"))
    }, Some(
      s"""SELECT 'http://w' || doc_id || '.example.com/p' AS url, text AS page_text, 'conversion' AS warc_type, CAST(octet_length(encode(text)) AS BIGINT) AS content_length, CAST(CASE WHEN doc_id % 8 = 2 THEN 1 ELSE 0 END AS INTEGER) AS malformed FROM documents WHERE text IS NOT NULL UNION ALL SELECT '$L45CeUrl' AS url, '$L45CeText' AS page_text, 'response' AS warc_type, CAST(${l45CeRecordBlockLen} AS BIGINT) AS content_length, CAST(0 AS INTEGER) AS malformed ORDER BY url""")),

    // ---- L50b: the PRODUCTION write side ([[graft.streaming.WetSink]]
    // — byte-bounded containers via the packSequences start-div cut,
    // deterministic bytes, the l45 fixture packer's collect-a-bucket
    // replaced by a configured per-container bound). The row packs
    // documents into gzip'd containers bounded at 4 KB (small enough
    // that sf0.01 forces many containers per shard), parses every
    // container back, and the oracle is the SAME closed form as l45:
    // the round trip must reproduce never-touched documents rows with
    // ZERO malformed units, no matter where the cuts fell. ----
    ("l45b_wet_sink_bounded", (s, d) => {
      import graft.sources.Warc
      import graft.streaming.WetSink
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
        .select(
          concat(lit("http://w"), col("doc_id"), lit(".example.com/p"))
            .as("url"),
          col("text"))
      val packed = WetSink.packBounded(docs, "url", "text",
        maxContainerBytes = 4096, shards = 8, gzip = true)
      Warc.pages(packed, "warc")
        .select(col("url"), col("page_text"), col("warc_type"),
          col("content_length"), col("malformed"))
        .orderBy(col("url"))
    }, Some(
      """SELECT 'http://w' || doc_id || '.example.com/p' AS url, text AS page_text, 'conversion' AS warc_type, CAST(octet_length(encode(text)) AS BIGINT) AS content_length, CAST(0 AS INTEGER) AS malformed FROM documents WHERE text IS NOT NULL ORDER BY url"""))
  ) ++ Seq[(String, Q, Option[String])](

    // ---- L46c: PERSISTED language-ID model (the l39c discipline —
    // the l42 row re-pays training per rep BY DESIGN as a retrain
    // contract; this sibling prices the PRODUCTION path: train once
    // into the catalog, route from the persisted heads — K·(dim+1)
    // rows load in one bounded pull and broadcast with the plan, the
    // corpus never shuffles). Same oracle as l42: the write→read
    // round trip is exact on the integer grid, so the catalog-loaded
    // model must reproduce scores, routing, floor verdicts
    // bit-for-bit. ----
    ("l42c_langid_persisted", (s, d) => {
      import graft.operators.{LangId => LI}
      val table = s"l42c_model_${sfTag(d)}"
      val fx = langFixture(s, d)
      if (!LI.modelExists(s, table)) {
        LI.dropModel(s, table) // stale location from a prior session
        LI.writeModel(s, LI.train(fx, "text", "doc_id", "lang",
          LangIdLangs, dim = 256, epochs = 2, lr = 0.5, ngram = 2), table)
      }
      val model = LI.readModel(s, table)
      fx.select(col("doc_id"), col("lang"), col("text"),
          LI.scoresMicro(col("text"), model).as("__p"))
        .select(col("doc_id") +: col("lang") +:
          LangIdLangs.map(l => col(s"__p.$l").as(s"p_$l")) ++:
          Seq(LI.bestScoreFromScores(col("__p"), model).as("best_micro"),
            LI.predictFromScores(col("__p"), model).as("pred"),
            (col("text").isNull || LI.keepsFromScores(col("__p"), model,
              LangIdLangs.toSet, LangIdFloorMicro)).as("keep")): _*)
        .orderBy(col("doc_id"))
    }, Some(langIdOracleSql(256))),

    // ---- L47c: PERSISTED DSIR model (same rationale as l42c — the
    // l43 row's per-rep retrain is the contract, this prices the
    // production score-only path through the catalog round trip).
    // Same oracle as l43. ----
    ("l43c_dsir_persisted", (s, d) => {
      import graft.operators.{Dsir => DS}
      val table = s"l43c_model_${sfTag(d)}"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (!DS.modelExists(s, table)) {
        DS.dropModel(s, table)
        DS.writeModel(s, DS.train(docs.where(col("doc_id") % 5 === 0),
          docs.where(col("doc_id") % 5 =!= 0), "text", dim = 256), table)
      }
      val m = DS.readModel(s, table)
      val top = DS.selectTopK(docs, "text", "doc_id", m, 100)
        .select(col("doc_id").as("__sid"))
      docs.select(col("doc_id"),
          DS.logWeightMicro(col("text"), m).as("logw_micro"),
          DS.keyMicro(col("text"), col("doc_id"), m).as("key_micro"))
        .join(broadcast(top), col("doc_id") === col("__sid"), "left")
        .select(col("doc_id"), col("logw_micro"), col("key_micro"),
          col("__sid").isNotNull.as("selected"))
        .orderBy(col("doc_id"))
    }, Some(dsirOracleSql)),

    // ---- L51: unigram-LM tokenizer training (Kudo 2018 — the
    // SentencePiece unigram family, the other public subword scheme
    // next to BPE/l17). The piece table is rows-only by design (no SQL
    // engine trains a unigram LM); its oracle-green contract sibling
    // is l46b. Training: seed substrings + hard-EM Viterbi rounds on
    // the distinct-word dictionary, every driver pull model-sized. ----
    ("l46_unigram_vocab", (s, d) => {
      val docs = Tables.documents(s, d).select(col("text"))
      val model = graft.operators.Unigram.train(
        graft.operators.Bpe.wordDict(docs, "text"),
        targetSize = 60, maxPieceLen = 6)
      import s.implicits._
      model.pieces.toSeq.toDF("piece", "q_logp").orderBy(col("piece"))
    }, None),

    // ---- L51b: unigram reconstruction contract (the l17b pattern) —
    // Viterbi-tokenize the corpus with the learned vocabulary and
    // claim, per document, the total CHARACTER length of the produced
    // pieces; DuckDB computes the whitespace-free character count
    // directly from the raw text. A segmentation that drops,
    // duplicates or splits a character shifts the claim and fails the
    // hash — while the learned vocabulary stays engine-side
    // (data-dependent). ----
    ("l46b_unigram_reconstruction", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val model = graft.operators.Unigram.train(
        graft.operators.Bpe.wordDict(docs.select(col("text")), "text"),
        targetSize = 60, maxPieceLen = 6)
      graft.operators.Unigram.applyUnigram(docs, "text", model)
        .select(col("doc_id"),
          aggregate(transform(col("uni_tokens"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).as("n_chars"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT doc_id, CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS BIGINT) AS n_chars FROM documents ORDER BY doc_id""")),

    // ---- L51c: PERSISTED unigram vocabulary (the l17c discipline) —
    // train once, save as a managed table, tokenize from the catalog:
    // |vocab| rows in, broadcast with the task, corpus never shuffles.
    // Same reconstruction contract through the write→read→apply path;
    // per-SF table names keep scales separate. ----
    ("l46c_unigram_persisted", (s, d) => {
      val table = s"l46c_vocab_${sfTag(d)}"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (!s.catalog.tableExists(table)) {
        graft.operators.Layout.dropTableAndLocation(s, table)
        graft.operators.Unigram.writeVocab(s, graft.operators.Unigram.train(
          graft.operators.Bpe.wordDict(docs.select(col("text")), "text"),
          targetSize = 60, maxPieceLen = 6), table)
      }
      val model = graft.operators.Unigram.readVocab(s, table)
      graft.operators.Unigram.applyUnigram(docs, "text", model)
        .select(col("doc_id"),
          aggregate(transform(col("uni_tokens"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).as("n_chars"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT doc_id, CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS BIGINT) AS n_chars FROM documents ORDER BY doc_id""")),

    // ---- L51d: SOFT-EM unigram training (Kudo 2018 §3.2's actual
    // forward-backward E-step — the hard-EM rows' documented
    // simplification, removed: marginal expectations instead of
    // Viterbi counts, so argmax-tie losers keep their mass through
    // pruning). Piece table rows-only by design like l46; its
    // oracle-green contract sibling is l46e. ----
    ("l46d_unigram_soft", (s, d) => {
      val docs = Tables.documents(s, d).select(col("text"))
      val model = graft.operators.Unigram.trainSoft(
        graft.operators.Bpe.wordDict(docs, "text"),
        targetSize = 60, maxPieceLen = 6)
      import s.implicits._
      model.pieces.toSeq.toDF("piece", "q_logp").orderBy(col("piece"))
    }, None),

    // ---- L51e: soft-EM reconstruction contract — the l46b claim
    // verbatim, under the SOFT-trained vocabulary: apply is always
    // Viterbi argmax (SentencePiece's contract too), so per-doc piece
    // char totals must equal DuckDB's whitespace-free counts no
    // matter which E-step fit the probabilities. ----
    ("l46e_unigram_soft_reconstruction", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val model = graft.operators.Unigram.trainSoft(
        graft.operators.Bpe.wordDict(docs.select(col("text")), "text"),
        targetSize = 60, maxPieceLen = 6)
      graft.operators.Unigram.applyUnigram(docs, "text", model)
        .select(col("doc_id"),
          aggregate(transform(col("uni_tokens"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).as("n_chars"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT doc_id, CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS BIGINT) AS n_chars FROM documents ORDER BY doc_id""")),

    // ---- L51f: subword-regularization SAMPLING (Kudo 2018 §3.1 —
    // the paper's namesake: each word occurrence draws a segmentation
    // from q ∝ P^alpha via forward-filtering backward-sampling,
    // deterministic per (word, doc seed) through a SplitMix64 stream).
    // The reconstruction contract holds for ANY draw — pieces always
    // concatenate back to the word — so the SAME closed-form oracle
    // as l46b pins the sampled path: the claim is engine-exact even
    // though the segmentations themselves are randomized. ----
    ("l46f_unigram_sampled", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val model = graft.operators.Unigram.train(
        graft.operators.Bpe.wordDict(docs.select(col("text")), "text"),
        targetSize = 60, maxPieceLen = 6)
      graft.operators.Unigram.applyUnigramSampled(docs, "text", model,
          alpha = 0.5, seedCol = "doc_id")
        .select(col("doc_id"),
          aggregate(transform(col("uni_tokens"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).as("n_chars"))
        .orderBy(col("doc_id"))
    }, Some("""SELECT doc_id, CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS BIGINT) AS n_chars FROM documents ORDER BY doc_id""")),

    // ---- L51g: SEGMENTATION-grade Viterbi differential (VERDICT r18
    // #4 — see the fixture block above l42 for the full rationale):
    // per distinct corpus word (capped at 12 code points), the engine's
    // piece string, piece count, and exact path score must equal a
    // DuckDB re-run of the same DP over the same literal piece table.
    // A segmentation that conserves characters but splits anywhere
    // else — or breaks a tie the other way — fails the hash. ----
    ("l46g_unigram_viterbi", (s, d) => {
      import s.implicits._
      val qMap = typedLit(L46gPieces.toMap)
      val words = Tables.documents(s, d).where(col("text").isNotNull)
        .select(explode(TF.tokens(col("text"))).as("t"))
        .unionByName(L46gPlantWords.toDF("t"))
        .select(substring(col("t"), 1, L46gWordCap).as("word"))
        .distinct()
      graft.operators.Unigram.applyUnigram(words, "word", l46gModel)
        .select(col("word"),
          size(col("uni_tokens")).cast("long").as("n_pieces"),
          array_join(col("uni_tokens"), "|").as("pieces"),
          aggregate(transform(col("uni_tokens"),
              t => coalesce(element_at(qMap, t), lit(L46gQUnk))),
            lit(0L), (a, x) => a + x).as("q_total"))
        .orderBy(col("word"))
    }, Some(l46gOracleSql)),

    // ---- L51h: byte-fallback reconstruction (VERDICT r18 #6 — the
    // l46b contract extended to apply-time-novel characters): train on
    // the corpus, flip SentencePiece's byte_fallback on, apply to the
    // corpus PLUS a planted doc of never-seen characters. Claims, per
    // doc: the DECODED pieces equal the whitespace-free text (identity,
    // stronger than l46b's count), and zero tokens fall outside the
    // FIXED vocabulary pieces ∪ the 256 byte tokens — the totality the
    // recipe exists for. ----
    ("l46h_unigram_byte_fallback", (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val plant = Seq((-7L, L46hPlantText)).toDF("doc_id", "text")
      val model = graft.operators.Unigram.withByteFallback(
        graft.operators.Unigram.train(
          graft.operators.Bpe.wordDict(docs.select(col("text")), "text"),
          targetSize = 60, maxPieceLen = 6))
      val vocab = typedLit((model.pieces.keySet ++
        graft.operators.Unigram.byteTokens).toSeq)
      graft.operators.Unigram.decodeUnigram(
          graft.operators.Unigram.applyUnigram(
            docs.unionByName(plant), "text", model), "uni_tokens")
        .select(col("doc_id"), col("decoded"),
          when(col("text").isNull, lit(0L))
            .otherwise(size(filter(col("uni_tokens"),
              t => !array_contains(vocab, t))).cast("long")).as("n_oov"))
        .orderBy(col("doc_id"))
    }, Some(s"""SELECT doc_id, REGEXP_REPLACE(text, '\\s', '', 'g') AS decoded, CAST(0 AS BIGINT) AS n_oov FROM documents UNION ALL SELECT CAST(-7 AS BIGINT) AS doc_id, '$L46hPlantStripped' AS decoded, CAST(0 AS BIGINT) AS n_oov ORDER BY doc_id"""))
  )
}
