package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Caching.RegisterSyntax

/** T1-T5 — the reference's keyword-extraction pipeline (`Keyword.py`)
  * rebuilt distributed. The reference collects all rows to the driver
  * and loops a missing `colleague_praise_keyword` module
  * (`Keyword.py:23,192-235`) over them with a pynori tokenizer; its
  * contract survives only as the call site + output schema
  * `(KYWR_EMP_NO, KYWR_CLLG_VALUA, KYWR_CLLG_VALUA_RANK)`.
  *
  * Here: tokenize (T1) → term frequency (T2) → rank per document (T5)
  * as one declarative plan — explode + two shuffles (doc-term count,
  * window rank), no driver loop (the reference's T6 anti-pattern
  * removed). Ranking uses pure integer ordering (tf desc, corpus df
  * asc, token asc) instead of a float TF-IDF so the DuckDB oracle
  * matches bit-exactly; swap the orderBy for log-weighted TF-IDF when
  * cross-engine reproducibility stops mattering.
  *
  * The pynori/nori Korean analyzer is not on the sandbox classpath;
  * [[tokenize]] is the regex stand-in (SURVEY §2.9 T1's fallback),
  * shaped so a Lucene nori UDF drops in behind the same column
  * contract.
  */
object Keywords {

  type Q = (SparkSession, String) => DataFrame

  // ---- T1 Korean morphological stand-in -------------------------------
  // The reference analyzes Korean with pynori's KoreanAnalyzer
  // (`pynori_test.py:4-28`, `Keyword.py:95-102`); the Lucene nori
  // dictionary is unavailable offline, so Hangul words are segmented
  // by longest-suffix match against small PUBLIC closed-class
  // morpheme lists (Korean particles/josa and verb endings/eomi are
  // closed classes — the lists, not a statistical model, are what
  // makes this deterministic) plus a basic-vocabulary verb-stem
  // lexicon that licenses eomi splits. Surface-concatenative splits
  // only: no jamo recombination (않고 → 않+고 works; contracted forms
  // like 했다 → 하+았다 do not), and tags are COARSE BUCKETS of the
  // nori tagset (NNG = nominal, VV = verbal stem incl. VA/VX, J = any
  // josa, E = any eomi, SF = sentence punctuation) — the granularity
  // nori distinctions (JKO vs JKB, EC vs ETM) need the dictionary we
  // don't have. KeywordsSpec pins the whole reference sample sentence
  // against pynori's published-shape output at this bucket level.

  private val josaOnly = Seq(
    "께서", "에서", "에게", "한테", "으로", "까지", "부터", "보다", "처럼",
    "마다", "조차", "마저", "를", "을", "이", "가", "에", "의", "와", "과",
    "로", "도", "만")

  private val eomiOnly = Seq(
    "았습니다", "었습니다", "습니다", "아서", "어서", "는데", "지만", "면서",
    "려고", "도록", "았다", "었다", "지", "고", "게", "기", "며", "면", "다")

  /** 는/은 are a topic josa after a noun and an eomi after a verb stem. */
  private val ambigSfx = Seq("는", "은")

  /** Basic-vocabulary verb/adjective stems that license an eomi split. */
  private val verbStems = Seq(
    "하", "되", "가", "오", "보", "먹", "만들", "미루", "다하", "좋", "않",
    "있", "없", "크", "작", "받", "주", "쓰", "읽", "말")

  private def sqlArr(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("array(", ", ", ")")

  // longest-first so the first VALID match is the longest one
  private val allSfx = sqlArr((josaOnly ++ eomiOnly ++ ambigSfx)
    .sortBy(s => (-s.length, s)))
  private val eomiArr  = sqlArr(eomiOnly)
  private val verbsArr = sqlArr(verbStems)

  /** T1: `text` → array of (term, tag) structs; tag is a coarse POS
    * bucket (`pynori_test.py:22-28` smoke shape: list of (term, POS)).
    * Hangul words go through the morphological split above (trailing
    * punctuation emitted separately, pynori's
    * `discard_punctuation=False`); everything else keeps the original
    * latin/digit bucketing unchanged. All built-in expressions — the
    * whole analyzer stays inside whole-stage codegen.
    */
  val tokenizeExpr: String =
    s"""flatten(transform(
       transform(
         filter(split(regexp_replace(trim(text), ' +', ' '), ' '), w -> w != ''),
         w -> named_struct(
           'w', w,
           'base', regexp_replace(w, '[.,!?]+$$', ''),
           'punct', regexp_extract(w, '([.,!?]+)$$', 1))),
       p -> concat(
         CASE WHEN p.base rlike '^[가-힣]+$$' THEN
           flatten(transform(
             array(try_element_at(
               filter($allSfx, s ->
                 endswith(p.base, s) AND length(p.base) > length(s)
                 AND (NOT array_contains($eomiArr, s)
                      OR array_contains($verbsArr,
                           substring(p.base, 1, length(p.base) - length(s))))),
               1)),
             sfx -> CASE WHEN sfx IS NULL THEN
                 array(named_struct('term', p.base, 'tag', 'NNG'))
               ELSE array(
                 named_struct(
                   'term', substring(p.base, 1, length(p.base) - length(sfx)),
                   'tag', IF(array_contains($verbsArr,
                       substring(p.base, 1, length(p.base) - length(sfx))),
                     'VV', 'NNG')),
                 named_struct('term', sfx, 'tag',
                   CASE WHEN array_contains($eomiArr, sfx) THEN 'E'
                        WHEN sfx IN ('는', '은') THEN
                          IF(array_contains($verbsArr,
                               substring(p.base, 1, length(p.base) - length(sfx))),
                             'E', 'J')
                        ELSE 'J' END))
               END))
         ELSE array(named_struct('term', lower(p.w), 'tag',
           CASE WHEN lower(p.w) rlike '^[0-9]+$$' THEN 'SN'
                WHEN lower(p.w) rlike '^[a-z]+$$' THEN 'NNG'
                ELSE 'SY' END))
         END,
         IF(p.base rlike '^[가-힣]+$$' AND p.punct != '',
            array(named_struct('term', p.punct, 'tag', 'SF')),
            CAST(array() AS array<struct<term:string,tag:string>>)))))"""

  def tokenize(df: DataFrame): DataFrame =
    df.withColumn("tokens", expr(tokenizeExpr))

  private val stopWords = Seq("the", "a", "of", "to", "and", "in", "is")
  private val stop = stopWords.map(w => s"'$w'").mkString(", ")

  /** k1 — top-5 keywords per document: tf desc, rarity (corpus df) asc,
    * token asc. Stopwords dropped (the reference's commented POS
    * filter, `Keyword.py:99-101`, as a stop-list).
    *
    * SERVED from the token tier ([[TokenStore.served]]): the
    * tokenize+explode prefix runs once per corpus snapshot at tier
    * build, and the query reads only the tier's pruned
    * (doc_id, term) columns — never the full `text` column. The
    * DuckDB oracle still recomputes from raw `documents`, so the
    * hash gate re-proves tier == tokenize every Verify run.
    */
  val k1TopKeywords: Q = (s, dir) => {
    val toks = TokenStore.served(s, dir)
      .filter(!col("term").isin(stopWords: _*))
      .select("doc_id", "term")
    // persisted: df is derived FROM tf and joined back to it — without
    // this the tokenize+explode+count chain runs twice
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .registerCache()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // top-5 per doc via the bounded-buffer aggregate (≤5 tuples per
    // doc per partition on the wire) — the row_number window form
    // sorts the whole doc×term stream to keep 5 rows per doc, a
    // corpus-scale sort at 100 TB. Ordering identical to the window's
    // (tf desc, df asc, term asc); list position is the rank.
    val top5 = udaf(new graft.ops.KeywordTopKAggregator(5))
    tf.join(df, "term")
      .groupBy("doc_id")
      .agg(top5(col("term"), col("tf"), col("df")).as("ks"))
      .select(col("doc_id"), posexplode(col("ks")).as(Seq("i", "k")))
      .select(col("doc_id"), col("k._1").as("keyword"),
        col("k._2").as("tf"), col("k._3").as("df"),
        (col("i") + 1).cast("int").as("kywr_rank"))
  }

  val k1TopKeywordsSql: String = s"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' '),
               t -> t NOT IN ($stop))) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    ranked AS (
      SELECT doc_id, term, tf.tf, df.df,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf.tf DESC, df.df ASC, term) AS kywr_rank
      FROM tf JOIN df USING (term))
    SELECT doc_id, term AS keyword, tf, df, kywr_rank
    FROM ranked WHERE kywr_rank <= 5"""

  /** k2 — T3's cosine similarity between document TF vectors, computed
    * sparsely: dot products via a shared-term join inside source
    * blocks, norms as integer Σtf². Same int-exact trick as
    * [[graft.sim.Similarity]].
    */
  val k2TfCosinePairs: Q = (s, dir) => {
    val docs = Tables.loadParallel(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("source"),
      explode(expr("split(regexp_replace(lower(trim(text)), ' +', ' '), ' ')")).as("term"))
    val tf = toks.groupBy("source", "doc_id", "term").agg(count(lit(1)).as("tf"))
      .registerCache()
    val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
    // exactness-preserving prune: a term in only ONE doc of a source
    // joins with nothing, so dropping block-singletons shrinks the
    // self-join input (most of a corpus's vocabulary) without changing
    // a single dot product; norms still use the full tf.
    // persisted so the window prune runs ONCE — unpersisted, each side
    // of the self-join below re-sorts tf (verified: two Window nodes)
    val shared = tf.withColumn("ndocs",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("source", "term")))
      .filter(col("ndocs") >= 2)
      .select("source", "doc_id", "term", "tf")
      .registerCache()
    val dots = shared.as("x")
      .join(shared.as("y"),
        col("x.source") === col("y.source") && col("x.term") === col("y.term") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(sum(col("x.tf") * col("y.tf")).as("dot"))
    dots
      .join(norms.as("na"), col("doc_a") === col("na.doc_id"))
      .join(norms.as("nb"), col("doc_b") === col("nb.doc_id"))
      .withColumn("cos_sim",
        col("dot").cast("double") / sqrt(col("na.n2").cast("double") * col("nb.n2").cast("double")))
      .filter(col("cos_sim") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("cos_sim"))
  }

  val k2TfCosinePairsSql: String = """
    WITH toks AS (
      SELECT doc_id, source,
             unnest(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS term
      FROM documents),
    tf AS (SELECT source, doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
    norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY 1),
    dots AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, sum(x.tf * y.tf) AS dot
      FROM tf x JOIN tf y
        ON x.source = y.source AND x.term = y.term AND x.doc_id < y.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) AS cos_sim
    FROM dots
    JOIN norms na ON doc_a = na.doc_id
    JOIN norms nb ON doc_b = nb.doc_id
    WHERE dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) >= 0.8"""

  /** k6 — k2's declared 100 TB path: tf-cosine over df-CAPPED vectors
    * (the d7 knob applied to cosine). k2 is exact but intrinsically
    * pairwise: with a fixed number of sources, docs-per-source grows
    * with the corpus and the shared-term self-join grows ~block² —
    * measured exponent 1.65 in shuffle bytes vs corpus rows
    * (scale_probe.json, sf0.01→sf0.1). Capping within-source document
    * frequency at [[K6DfCap]] bounds the join: each (source, term) key
    * yields ≤ cap² pairs, so total candidates are O(vocab·cap²) —
    * linear in corpus growth. The similarity becomes the TRUE cosine
    * of the truncated vectors (norms computed over the same capped
    * term space, df=1 singletons included; dots over 2 ≤ df ≤ cap), so
    * the computation stays deterministic and the DuckDB oracle
    * hash-matches it exactly — approximate vs k2, exact vs its own
    * definition. High-df terms are boilerplate by construction; for
    * near-dup detection dropping them loses little signal (same
    * argument as d7's stop-shingles).
    */
  val K6DfCap = 20

  val k6TfCosineCapped: Q = (s, dir) => {
    // tier-served (doc, source, term) stream — the production path
    // reads the tier the way it would at 100 TB
    val toks = TokenStore.served(s, dir)
      .select("doc_id", "source", "term")
    val tf = toks.groupBy("source", "doc_id", "term").agg(count(lit(1)).as("tf"))
    // persisted: norms and both self-join sides read the capped frame
    val capped = tf.withColumn("ndocs",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("source", "term")))
      .filter(col("ndocs") <= K6DfCap)
      .registerCache()
    val norms = capped.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
    val shared = capped.filter(col("ndocs") >= 2)
      .select("source", "doc_id", "term", "tf")
    val dots = shared.as("x")
      .join(shared.as("y"),
        col("x.source") === col("y.source") && col("x.term") === col("y.term") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(sum(col("x.tf") * col("y.tf")).as("dot"))
    dots
      .join(norms.as("na"), col("doc_a") === col("na.doc_id"))
      .join(norms.as("nb"), col("doc_b") === col("nb.doc_id"))
      .withColumn("cos_sim",
        col("dot").cast("double") / sqrt(col("na.n2").cast("double") * col("nb.n2").cast("double")))
      .filter(col("cos_sim") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("cos_sim"))
  }

  val k6TfCosineCappedSql: String = s"""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS term
      FROM documents),
    tf AS (SELECT source, doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
    capped AS (
      SELECT * FROM (
        SELECT source, doc_id, term, tf,
               count(*) OVER (PARTITION BY source, term) AS ndocs
        FROM tf)
      WHERE ndocs <= $K6DfCap),
    norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM capped GROUP BY 1),
    dots AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, sum(x.tf * y.tf) AS dot
      FROM capped x JOIN capped y
        ON x.source = y.source AND x.term = y.term AND x.doc_id < y.doc_id
      WHERE x.ndocs >= 2 AND y.ndocs >= 2
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) AS cos_sim
    FROM dots
    JOIN norms na ON doc_a = na.doc_id
    JOIN norms nb ON doc_b = nb.doc_id
    WHERE dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) >= 0.8"""

  /** T2 via spark.ml — `CountVectorizer` fit over the token column
    * (`Keyword.py:25`), yielding sparse TF vectors sized to the corpus
    * vocabulary. The sparse explode+count path (k1/k2) is the
    * oracle-checkable equivalent; this is the MLlib-typed surface for
    * downstream estimators.
    */
  def tfVectors(s: SparkSession, dir: String,
                vocabSize: Int = 1 << 16): DataFrame = {
    val docs = Tables.loadParallel(s, dir, "documents")
      .withColumn("terms",
        expr("split(regexp_replace(lower(trim(text)), ' +', ' '), ' ')"))
    new org.apache.spark.ml.feature.CountVectorizer()
      .setInputCol("terms").setOutputCol("tf")
      .setVocabSize(vocabSize)
      .fit(docs)
      .transform(docs)
      .select("doc_id", "tf")
  }

  /** k3 — the reference's exact output contract
    * (`Keyword.py:234,239`: `KYWR_EMP_NO`, `KYWR_CLLG_VALUA`,
    * `KYWR_CLLG_VALUA_RANK` after the rename at `:239`): a user of the
    * reference gets the same shape, top-3 per key as a LongType rank.
    */
  val k3KywrContract: Q = (s, dir) =>
    k1TopKeywords(s, dir)
      .filter(col("kywr_rank") <= 3)
      .select(
        col("doc_id").cast("string").as("KYWR_EMP_NO"),
        col("keyword").as("KYWR_CLLG_VALUA"),
        col("kywr_rank").cast("long").as("KYWR_CLLG_VALUA_RANK"))

  val k3KywrContractSql: String = s"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' '),
               t -> t NOT IN ($stop))) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    ranked AS (
      SELECT doc_id, term,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf.tf DESC, df.df ASC, term) AS r
      FROM tf JOIN df USING (term))
    SELECT CAST(doc_id AS VARCHAR) AS KYWR_EMP_NO,
           term AS KYWR_CLLG_VALUA,
           CAST(r AS BIGINT) AS KYWR_CLLG_VALUA_RANK
    FROM ranked WHERE r <= 3"""

  /** k4 — TF-IDF keyword scoring (the canonical relevance weight the
    * reference's missing `keyword_module` would have used; completes
    * the tf/df family with the idf-weighted form). The transcendental
    * step (`ln`) uses q39's determinism discipline: each score is
    * quantized to integer micros BEFORE ranking, so libm ulp noise
    * cannot flip an order. The corpus size N is a one-row frame
    * broadcast into the scoring join (same shape as q39's stats row).
    */
  val k4Tfidf: Q = (s, dir) => {
    // tier-served tf/df prefix — k1's argument
    val toks = TokenStore.served(s, dir)
      .filter(!col("term").isin(stopWords: _*))
      .select("doc_id", "term")
    // persisted: df AND the corpus-size scalar both derive from tf —
    // unpersisted, the tokenize chain runs three times
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .registerCache()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = tf.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf_micros").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf_micros",
        expr("cast(round(tf * ln((n_docs + 1.0) / (df + 1.0)) * 1000000) as bigint)"))
      .withColumn("kywr_rank", row_number().over(w))
      .filter(col("kywr_rank") <= 3)
      .select(col("doc_id"), col("term").as("keyword"), col("tf"), col("df"),
        col("tfidf_micros"), col("kywr_rank"))
  }

  val k4TfidfSql: String = s"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' '),
               t -> t NOT IN ($stop))) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT doc_id, term, tf.tf, df.df,
             CAST(round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) * 1000000)
                  AS BIGINT) AS tfidf_micros
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_micros DESC, term) AS kywr_rank
      FROM scored)
    SELECT doc_id, term AS keyword, tf, df, tfidf_micros, kywr_rank
    FROM ranked WHERE kywr_rank <= 3"""

  /** k5 — PMI collocations: term pairs that co-occur in documents far
    * more than independence predicts — the collocation/phrase-mining
    * signal a keyword tier feeds on (`pmi = ln(N·c(ab)/(c(a)·c(b)))`).
    * Counts are document-level presence (distinct terms per doc), so
    * the quadratic dimension is the VOCABULARY, not the corpus — the
    * per-doc pair explode is |terms|²/2 per doc and the shuffle key is
    * the pair. The ln quantizes to micros from exact integer counts
    * (q39's discipline); pairs below [[MinPairDocs]] docs are noise
    * and dropped before the join back.
    */
  private val MinPairDocs = 5

  val k5PmiCollocations: Q = (s, dir) => {
    // doc-grain token ARRAYS from the shingle tier (k5's pair explode
    // needs arrays, not the exploded token stream — rebuilding arrays
    // from TokenStore would add a corpus shuffle)
    val docTerms = graft.dedup.ShingleStore.served(s, dir)
      .select(col("doc_id"),
        expr("array_distinct(filter(tokens, t -> t not in (" + stop + ")))")
          .as("ts"))
      .registerCache()
    val present = docTerms.select(col("doc_id"), explode(col("ts")).as("t"))
    val ct = present.groupBy("t").agg(count(lit(1)).as("c1"))
    val n = docTerms.agg(count(lit(1)).as("n_docs"))
    val pairs = docTerms
      .select(explode(expr(
        """flatten(transform(ts, (a, i) ->
             transform(slice(ts, i + 2, size(ts)), b ->
               struct(a AS ta, b AS tb))))""")).as("p"))
      .select(
        least(col("p.ta"), col("p.tb")).as("ta"),
        greatest(col("p.ta"), col("p.tb")).as("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= MinPairDocs)
    pairs
      .join(ct.select(col("t").as("ta"), col("c1").as("ca")), "ta")
      .join(ct.select(col("t").as("tb"), col("c1").as("cb")), "tb")
      .crossJoin(broadcast(n))
      .select(col("ta"), col("tb"), col("cab"), col("ca"), col("cb"),
        expr("cast(round(1e6 * ln(cast(n_docs as double) * cab / (cast(ca as double) * cb))) as bigint)")
          .as("pmi_micro"))
  }

  val k5PmiCollocationsSql: String = s"""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_filter(
               str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' '),
               t -> t NOT IN ($stop))) AS ts
      FROM documents),
    present AS (SELECT doc_id, unnest(ts) AS t FROM d),
    ct AS (SELECT t, count(*) AS c1 FROM present GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM d),
    pairs AS (
      SELECT least(a.t, b.t) AS ta, greatest(a.t, b.t) AS tb, count(*) AS cab
      FROM present a JOIN present b
        ON a.doc_id = b.doc_id AND a.t < b.t
      GROUP BY 1, 2
      HAVING count(*) >= $MinPairDocs)
    SELECT ta, tb, cab, ca.c1 AS ca, cb.c1 AS cb,
           CAST(round(1e6 * ln(CAST(n_docs AS DOUBLE) * cab
                / (CAST(ca.c1 AS DOUBLE) * cb.c1))) AS BIGINT) AS pmi_micro
    FROM pairs
    JOIN ct ca ON ta = ca.t
    JOIN ct cb ON tb = cb.t
    CROSS JOIN n"""

  // =========================================================================
  // k7 — distinctive vocabulary per source (χ² salience)
  // =========================================================================

  /** Per-source distinctive terms by the χ² test on the 2×2 term ×
    * source contingency table — the "weirdness" score a corpus audit
    * ranks sources by (what vocabulary makes src7 unlike the rest).
    * Only over-represented terms (positive association, `ad-bc > 0`)
    * are ranked.
    *
    * Determinism: a/b/c/d are exact int64 counts; χ² is assembled in
    * doubles with IDENTICAL expression structure in both engines
    * (identical ints in, same operation order ⇒ bit-equal out — s1's
    * cosine discipline), reported as integer micros. The top-5 pick
    * per source uses [[graft.ops.ScoreTopKAggregator]] — a bounded
    * buffer per partition, merged pairwise, so the per-source pick
    * ships ≤5 tuples per partition instead of window-sorting the
    * (source × vocab) stream (k1's aggregator argument). The term
    * count floor bounds the scored vocabulary; the corpus total is a
    * one-row broadcast (the q39 scalar shape).
    */
  private val MinTermCount = 50

  val k7Chi2Keywords: Q = (s, dir) => {
    // tier-served (source, term) stream; cached because four
    // aggregates derive from it
    val toks = TokenStore.served(s, dir)
      .filter(!col("term").isin(stopWords: _*))
      .select(col("source"), col("term").as("t"))
      .registerCache()
    val st = toks.groupBy("source", "t").agg(count(lit(1)).as("a"))
    val tt = toks.groupBy("t").agg(count(lit(1)).as("tcnt"))
      .filter(col("tcnt") >= MinTermCount)
    val stot = toks.groupBy("source").agg(count(lit(1)).as("scnt"))
    val n = toks.agg(count(lit(1)).as("n_total"))
    val scored = st.join(tt, "t").join(stot, "source")
      .crossJoin(broadcast(n))
      .withColumn("bb", col("tcnt") - col("a"))
      .withColumn("cc", col("scnt") - col("a"))
      .withColumn("dd", col("n_total") - col("tcnt") - col("scnt") + col("a"))
      .withColumn("adbc", col("a") * col("dd") - col("bb") * col("cc"))
      .filter(col("adbc") > 0)
      .withColumn("chi2_micro", expr(
        """cast(round(1e6 * (cast(n_total as double) * cast(adbc as double) * cast(adbc as double)
           / (cast(a + bb as double) * cast(cc + dd as double)
              * cast(a + cc as double) * cast(bb + dd as double)))) as bigint)"""))
    val top5 = udaf(new graft.ops.ScoreTopKAggregator(5))
    scored
      .groupBy("source")
      .agg(top5(col("t"), col("chi2_micro").cast("double")).as("ks"))
      .select(col("source"), posexplode(col("ks")).as(Seq("i", "k")))
      .select(col("source"), col("k._1").as("term"),
        col("k._2").cast("long").as("chi2_micro"),
        (col("i") + 1).cast("int").as("rank"))
  }

  val k7Chi2KeywordsSql: String = s"""
    WITH e AS (
      SELECT source,
             unnest(list_filter(
               str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' '),
               t -> t NOT IN ($stop))) AS t
      FROM documents),
    st AS (SELECT source, t, count(*) AS a FROM e GROUP BY 1, 2),
    tt AS (SELECT t, count(*) AS tcnt FROM e GROUP BY 1
           HAVING count(*) >= $MinTermCount),
    stot AS (SELECT source, count(*) AS scnt FROM e GROUP BY 1),
    n AS (SELECT count(*) AS n_total FROM e),
    x AS (
      SELECT source, t, a, tcnt - a AS bb, scnt - a AS cc,
             n_total - tcnt - scnt + a AS dd, n_total
      FROM st JOIN tt USING (t) JOIN stot USING (source) CROSS JOIN n),
    sc AS (
      SELECT source, t,
             CAST(round(1e6 * (CAST(n_total AS DOUBLE) * CAST(a*dd - bb*cc AS DOUBLE) * CAST(a*dd - bb*cc AS DOUBLE)
               / (CAST(a + bb AS DOUBLE) * CAST(cc + dd AS DOUBLE)
                  * CAST(a + cc AS DOUBLE) * CAST(bb + dd AS DOUBLE)))) AS BIGINT)
               AS chi2_micro
      FROM x WHERE a*dd - bb*cc > 0),
    r AS (
      SELECT source, t AS term, chi2_micro,
             row_number() OVER (PARTITION BY source
                                ORDER BY CAST(chi2_micro AS DOUBLE) DESC, t) AS rank
      FROM sc)
    SELECT source, term, chi2_micro, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5"""

  /** k8 — RAKE phrase extraction (Rose et al. 2010), chunked: candidate
    * phrases are maximal non-stopword runs, sub-chunked to ≤3 tokens
    * (d12's chunking discipline — this corpus's 31-word vocabulary
    * makes raw runs ~15 tokens, and production RAKE caps phrase length
    * anyway); each word scores deg/freq over the DOCUMENT's phrase
    * set, a phrase scores the sum of its word scores, top-3 per doc.
    * The multi-word counterpart of k1's unigram keywords — "machine
    * learning rate" ranks as a unit instead of three independent
    * terms.
    *
    * Determinism: deg and freq are exact counts; score quantizes ONCE
    * to `deg·10⁶ div freq` per word, so phrase sums are int64-exact
    * and rank ties break on (score desc, phrase, grp). Scale shape:
    * everything is keyed by doc_id (or (doc_id, phrase-grp)) — the
    * windows ride hash(doc_id) partitions, the per-doc word-stats
    * join is doc-grain, and no corpus-global state exists at all; the
    * one data-sized exchange is the posexplode's doc-keyed
    * repartition, reused by every window above it.
    */
  val k8RakePhrases: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val byRun = Window.partitionBy("doc_id", "run").orderBy("i")
    // tier-served positional stream (pos rides every token row)
    val pw = TokenStore.served(s, dir)
      .select(col("doc_id"), col("pos").as("i"), col("term").as("w"))
      .repartition(col("doc_id"))
      .withColumn("is_stop", expr(s"w in ($stop)"))
      .withColumn("run", sum(when(col("is_stop"), 1).otherwise(0)).over(byDoc))
      .filter(!col("is_stop"))
      .withColumn("grp",
        concat_ws(":", col("run"),
          ((row_number().over(byRun) - 1) / 3).cast("int")))
    // both doc-grain stat joins PINNED to shuffle_hash (g9's
    // measurement-honesty rule): every side is doc-keyed and
    // data-sized, so the production plan at any scale is a
    // co-hash-partitioned join — but at small SFs the planner
    // broadcast whichever side's estimate dipped under 10 MB, and the
    // sf0.01→sf0.1 shuffle-growth exponent read that plan CLIFF (1.85)
    // instead of the doc-keyed plan's linear growth. Build side = the
    // grouped stats frame (plen / wstats), the strictly-smaller
    // aggregate of the probe side.
    val plen = pw.groupBy("doc_id", "grp").agg(count(lit(1)).as("plen"))
    val withLen = pw.join(plen.hint("shuffle_hash"), Seq("doc_id", "grp"))
    val wstats = withLen.groupBy("doc_id", "w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("doc_id"), col("w"),
        expr("deg * 1000000 div freq").as("w_score_micro"))
    val phrases = withLen.join(wstats.hint("shuffle_hash"), Seq("doc_id", "w"))
      .groupBy("doc_id", "grp")
      .agg(
        expr("concat_ws(' ', transform(array_sort(collect_list(struct(i, w))), x -> x.w))")
          .as("phrase"),
        sum("w_score_micro").as("score_micro"))
    val rankW = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("phrase"), col("grp"))
    phrases.withColumn("rk", row_number().over(rankW).cast("int"))
      .filter(col("rk") <= 3)
      .select("doc_id", "phrase", "score_micro", "rk")
  }

  val k8RakePhrasesSql: String = s"""
    WITH t AS (
      SELECT doc_id, str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS tokens
      FROM documents),
    ex AS (
      SELECT doc_id, unnest(range(1, len(tokens) + 1)) AS i, tokens
      FROM t),
    tagged AS (
      SELECT doc_id, i, tokens[i] AS w,
             CASE WHEN tokens[i] IN ($stop) THEN 1 ELSE 0 END AS is_stop
      FROM ex),
    runs AS (
      SELECT doc_id, i, w,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY i) AS run
      FROM tagged
      QUALIFY is_stop = 0),
    pw AS (
      SELECT doc_id, i, w,
             CAST(run AS VARCHAR) || ':'
               || CAST((row_number() OVER (PARTITION BY doc_id, run
                         ORDER BY i) - 1) // 3 AS VARCHAR) AS grp
      FROM runs),
    plen AS (SELECT doc_id, grp, count(*) AS plen FROM pw GROUP BY 1, 2),
    wl AS (SELECT pw.doc_id, pw.grp, pw.i, pw.w, plen.plen
           FROM pw JOIN plen ON pw.doc_id = plen.doc_id AND pw.grp = plen.grp),
    ws AS (
      SELECT doc_id, w,
             CAST(SUM(plen) AS BIGINT) * 1000000 // count(*) AS w_score_micro
      FROM wl GROUP BY 1, 2),
    ph AS (
      SELECT wl.doc_id, wl.grp,
             string_agg(wl.w, ' ' ORDER BY wl.i) AS phrase,
             CAST(SUM(ws.w_score_micro) AS BIGINT) AS score_micro
      FROM wl JOIN ws ON wl.doc_id = ws.doc_id AND wl.w = ws.w
      GROUP BY 1, 2)
    SELECT doc_id, phrase, score_micro, rk FROM (
      SELECT doc_id, phrase, score_micro,
             CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY score_micro DESC, phrase, grp) AS INT) AS rk
      FROM ph) WHERE rk <= 3"""

  /** k9 — TextRank corpus keywords: PageRank over the word
    * co-occurrence graph (adjacent non-stop tokens), the graph-based
    * keyword family RAKE (k8, degree/freq heuristic) and chi² (k7,
    * contrastive) don't cover — a word ranks high when its NEIGHBORS
    * rank high, not merely when it is frequent. Weighted PageRank in
    * g1's exact-integer discipline: ranks in micros, per-edge
    * contribution `rank · w_uv div wdeg_u` (integer floor), so every
    * per-round sum is order-independent and the DuckDB chained-CTE
    * oracle matches bit-exactly. Top-20 via orderBy+limit
    * (TakeOrderedAndProject — no global-sort window).
    *
    * Scale shape: the ONLY corpus-sized work is the adjacency
    * explode + bigram count (t9's cached-bigram-frame shape, one
    * doc-keyed window + one edge-grain agg); the 3 unrolled rank
    * rounds run on the VOCAB grain (edges ≤ vocab², in practice the
    * observed-bigram count), with weighted degree folded into the
    * edge build exactly like g1's outdeg.
    */
  val k9TextRank: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    // tier-served positional stream — adjacency via the stored pos
    val toks = TokenStore.served(s, dir)
      .select(col("doc_id"), col("pos").as("i"), col("term").as("w"))
      .repartition(col("doc_id"))
      .withColumn("nxt", lead(col("w"), 1).over(byDoc))
    val bi = toks
      .filter(col("nxt").isNotNull && col("w") =!= col("nxt") &&
        !expr(s"w in ($stop)") && !expr(s"nxt in ($stop)"))
      .groupBy(col("w").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("cnt"))
    // symmetrized in one pass over bi: each bigram generates both
    // directions
    val und = bi.select(inline(array(
        struct(col("src"), col("dst"), col("cnt")),
        struct(col("dst").as("src"), col("src").as("dst"), col("cnt")))))
      .groupBy("src", "dst").agg(sum("cnt").as("cnt"))
    val edges = und
      .withColumn("wdeg", sum("cnt").over(Window.partitionBy("src")))
      .registerCache()
    val nodes = edges.select(col("src").as("node")).distinct()
    var ranks = nodes.withColumn("rank_micro", lit(1000000L))
    // r15 optimization (guide §1.2 "fix the distributed algorithm"):
    // unlike g1's bipartite graph, und is SYMMETRIZED (bi ∪ its
    // reverse), so every node has in-edges and contrib's dst set IS
    // the node set on every round (induction from r0 covering all
    // nodes) — the per-round `nodes ⟕ contrib` join only re-attached
    // a row set contrib already carries, and its coalesce(in_micro,0)
    // arm was unreachable. Dropping it removes 3 joins and their
    // per-round broadcast builds (per-job trace: 22 → 16 jobs at sf0.1).
    // The DuckDB oracle KEEPS the nodes-left-join recursion, so the
    // symmetry argument is re-proven cross-engine on every run.
    for (_ <- 1 to 3) {
      ranks = edges.join(ranks, col("src") === col("node"))
        .select(col("dst"),
          expr("rank_micro * cnt div wdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("in_micro"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("850000 * in_micro div 1000000"))
            .as("rank_micro"))
    }
    ranks.orderBy(col("rank_micro").desc, col("node"))
      .limit(20)
      .select(col("node").as("word"), col("rank_micro"))
  }

  val k9TextRankSql: String = {
    def round(prev: String, out: String) = s"""
      $out AS (
        SELECT node,
               150000 + 850000 * coalesce((
                 SELECT CAST(SUM(r.rank_micro * e.cnt // e.wdeg) AS BIGINT)
                 FROM edges e JOIN $prev r ON e.src = r.node
                 WHERE e.dst = nodes.node), 0) // 1000000 AS rank_micro
        FROM nodes)"""
    s"""WITH toks AS (
      SELECT doc_id, i, tokens[i] AS w, tokens[i+1] AS nxt
      FROM (SELECT doc_id,
              str_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS tokens
            FROM documents) t,
           unnest(range(1, len(tokens))) AS u(i)),
    bi AS (
      SELECT w AS src, nxt AS dst, count(*) AS cnt FROM toks
      WHERE nxt IS NOT NULL AND w <> nxt
        AND w NOT IN ($stop) AND nxt NOT IN ($stop)
      GROUP BY 1, 2),
    und AS (
      SELECT src, dst, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
        SELECT src, dst, cnt FROM bi
        UNION ALL SELECT dst, src, cnt FROM bi)
      GROUP BY 1, 2),
    edges AS (
      SELECT src, dst, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY src) AS BIGINT) AS wdeg
      FROM und),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
    ${round("r0", "r1")},
    ${round("r1", "r2")},
    ${round("r2", "r3")}
    SELECT node AS word, rank_micro FROM r3
    ORDER BY rank_micro DESC, node LIMIT 20"""
  }

  val queries: Map[String, Q] = Map(
    "k9_textrank" -> k9TextRank,
    "k8_rake_phrases" -> k8RakePhrases,
    "k7_chi2_keywords" -> k7Chi2Keywords,
    "k5_pmi_collocations" -> k5PmiCollocations,
    "k4_tfidf" -> k4Tfidf,
    "k1_top_keywords"    -> k1TopKeywords,
    "k2_tf_cosine_pairs" -> k2TfCosinePairs,
    "k6_tf_cosine_capped" -> k6TfCosineCapped,
    "k3_kywr_contract"   -> k3KywrContract,
  )

  val oracleSql: Map[String, String] = Map(
    "k9_textrank" -> k9TextRankSql,
    "k8_rake_phrases" -> k8RakePhrasesSql,
    "k7_chi2_keywords" -> k7Chi2KeywordsSql,
    "k5_pmi_collocations" -> k5PmiCollocationsSql,
    "k4_tfidf"           -> k4TfidfSql,
    "k1_top_keywords"    -> k1TopKeywordsSql,
    "k2_tf_cosine_pairs" -> k2TfCosinePairsSql,
    "k6_tf_cosine_capped" -> k6TfCosineCappedSql,
    "k3_kywr_contract"   -> k3KywrContractSql,
  )
}
