package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Barrier, Dedup, Multimodal, Similarity, TextAnalysis}

/** Oracle-checked training-data pipeline operators: dedup family, similarity
  * search, text analysis, multimodal plumbing. Spark side = the ops modules
  * (DataFrame API); DuckDB side = handwritten equivalents over the same
  * parquet (portable md5-derived hashing keeps both engines bit-identical).
  */
object DataOpsQueries {

  /** Shared DuckDB normalization fragment. */
  private val NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** Shared DuckDB quality-score expression over `documents.text` — ONE
    * definition used by text_quality_score and pipeline_data_curation so
    * the capstone provably filters with the same formula it claims to. */
  private val DUCK_QUALITY =
    s"""round(CAST(len(list_distinct(string_split($NORM, ' '))) AS DOUBLE) / len(string_split($NORM, ' ')) * 0.5
       |    + least(CAST(len(list_filter(string_split($NORM, ' '), w -> list_contains(['the','and','of','to','in','is','a','that','it','for'], w))) AS DOUBLE) / len(string_split($NORM, ' ')) * 5.0, 1.0) * 0.3
       |    + least(CAST(len(string_split($NORM, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.2, 6)""".stripMargin

  /** Exploded-sims CTE shared by the embedding oracles (declared before
    * first use — object vals initialize in order). */
  private val duckSims =
    """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM el GROUP BY 1),
      |dots AS (SELECT a.vec_id AS a, b.vec_id AS b, sum(a.e * b.e) AS dot
      |  FROM el a JOIN el b ON a.i = b.i GROUP BY 1, 2),
      |sims AS (SELECT dots.a, dots.b, round(dot / (na.nrm * nb.nrm), 6) AS cos
      |  FROM dots JOIN norms na ON dots.a = na.vec_id JOIN norms nb ON dots.b = nb.vec_id)""".stripMargin

  // ---- text analysis ------------------------------------------------------

  val tokenCount: OQ = OQ.df("text_token_count",
    (s, _) => TextAnalysis.tokenCounts(s.table("documents"))
      .selectExpr("doc_id", "CAST(ws_tokens AS BIGINT) AS ws_tokens",
        "CAST(re_tokens AS BIGINT) AS re_tokens"),
    s"""SELECT doc_id,
       |  len(string_split($NORM, ' ')) AS ws_tokens,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS re_tokens
       |FROM documents""".stripMargin)

  val langId: OQ = {
    val stops = TextAnalysis.Stopwords.toMap
    def duckList(lang: String) = stops(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    def duckScore(lang: String) =
      s"len(list_filter(string_split($NORM, ' '), w -> list_contains(${duckList(lang)}, w)))"
    OQ.df("text_lang_id",
      (s, _) => TextAnalysis.languageId(s.table("documents"))
        .selectExpr("doc_id", "CAST(score_en AS BIGINT) AS score_en",
          "CAST(score_de AS BIGINT) AS score_de", "CAST(score_es AS BIGINT) AS score_es",
          "CAST(score_fr AS BIGINT) AS score_fr", "CAST(score_zh AS BIGINT) AS score_zh",
          "detected_lang"),
      s"""WITH scored AS (SELECT doc_id,
         |  ${duckScore("en")} AS score_en, ${duckScore("de")} AS score_de,
         |  ${duckScore("es")} AS score_es, ${duckScore("fr")} AS score_fr,
         |  ${duckScore("zh")} AS score_zh
         |FROM documents)
         |SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
         |  CASE
         |    WHEN score_en > 0 AND score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
         |    WHEN score_de > 0 AND score_de > score_en AND score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
         |    WHEN score_es > 0 AND score_es > score_en AND score_es > score_de AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
         |    WHEN score_fr > 0 AND score_fr > score_en AND score_fr > score_de AND score_fr > score_es AND score_fr >= score_zh THEN 'fr'
         |    WHEN score_zh > 0 AND score_zh > score_en AND score_zh > score_de AND score_zh > score_es AND score_zh > score_fr THEN 'zh'
         |    ELSE 'unknown'
         |  END AS detected_lang
         |FROM scored""".stripMargin)
  }

  val quality: OQ = OQ.df("text_quality_score",
    (s, _) => TextAnalysis.qualityScore(s.table("documents"))
      .selectExpr("doc_id", "CAST(n_chars_norm AS BIGINT) AS n_chars_norm",
        "CAST(n_words AS BIGINT) AS n_words", "uniq_ratio", "stop_ratio",
        "punct_ratio", "quality_score"),
    s"""WITH base AS (SELECT doc_id, text, $NORM AS norm,
       |    string_split($NORM, ' ') AS ws FROM documents)
       |SELECT doc_id,
       |  length(norm) AS n_chars_norm,
       |  len(ws) AS n_words,
       |  CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uniq_ratio,
       |  CAST(len(list_filter(ws, w -> list_contains(['the','and','of','to','in','is','a','that','it','for'], w))) AS DOUBLE) / len(ws) AS stop_ratio,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |  $DUCK_QUALITY AS quality_score
       |FROM base""".stripMargin)

  /** Per-language empirical CDF of the quality score (cume_dist
    * semantics) — computed over the bounded distinct-(lang, score) frame,
    * never a window over document rows; the oracle IS the document-row
    * window, so equality proves the aggregated form exact. */
  val qualityCdfQ: OQ = OQ.df("text_quality_cdf",
    (s, _) => TextAnalysis.qualityCdf(s.table("documents")),
    s"""WITH base AS (SELECT doc_id, lang, $DUCK_QUALITY AS quality_score
       |  FROM documents)
       |SELECT doc_id, lang, quality_score,
       |  round(cume_dist() OVER (PARTITION BY lang ORDER BY quality_score), 6) AS quality_cdf
       |FROM base WHERE quality_score IS NOT NULL""".stripMargin)

  /** Sentence segmentation over the corpus — extraction-form pattern (no
    * lookbehind, so it runs identically on Java regex and DuckDB's RE2);
    * 0-based sentence index from posexplode vs generate_subscripts−1. */
  val sentencesQ: OQ = OQ.df("text_sentence_split",
    (s, _) => TextAnalysis.sentences(s.table("documents")),
    """WITH p AS (SELECT doc_id,
      |    list_filter(list_transform(
      |      regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+\z', 0),
      |      x -> trim(x)), x -> x <> '') AS parts
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(generate_subscripts(parts, 1) - 1 AS BIGINT) AS sent_no,
      |  unnest(parts) AS sentence
      |FROM p""".stripMargin)

  /** HTML → text extraction over an inline fixture (the corpus carries no
    * markup, so a documents-table key would pass vacuously): script/style
    * subtrees dropped, tags stripped, predefined + numeric entities
    * decoded, whitespace collapsed. ONE fixture definition feeds both
    * engines; the oracle replays the exact regexp chain in DuckDB's RE2
    * (no backreferences anywhere, by construction). */
  val htmlStripQ: OQ = {
    val fixture = Seq(
      1L -> ("<html><head><style type=\"text/css\">p {color: red}</style>" +
        "</head><body><h1>Title</h1><p>Hello &amp; welcome to O&#39;Brien" +
        "&#39;s page &lt;3</p><script>var x = 1 < 2;</script>" +
        "<p>Second   paragraph</p></body></html>"),
      2L -> "plain text, no markup &amp;lt; stays encoded once",
      3L -> "<div class=\"a\"><span>nested <b>bold</b> text</span>&#169; 2024</div>",
      4L -> "<SCRIPT src=\"x.js\">ignored()</SCRIPT>kept <P>tail</P>",
      5L -> ("<p>typographic: it&#8217;s &#x2019;quoted&#x2018; " +
        "&#8220;curly&#8221; text&#8212;dashed&#x2013;twice&#160;nbsp " +
        "unknown &#12345; and hex &#x1F600; drop</p>"))
    val values = fixture.map { case (id, h) => s"($id, '$h')" }.mkString(",\n  ")
    OQ.df("text_html_strip",
      (s, _) => {
        import s.implicits._
        TextAnalysis.htmlStrip(fixture.toDF("pid", "html"))
          .select("pid", "extracted_text")
      },
      s"""WITH f(pid, html) AS (VALUES
         |  $values),
         |s1 AS (SELECT pid, regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g') AS t FROM f),
         |s2 AS (SELECT pid, regexp_replace(t, '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g') AS t FROM s1),
         |s3 AS (SELECT pid, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s2),
         |s4 AS (SELECT pid, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
         |    '(?i)&#(39|8216|8217|x2018|x2019);', chr(39), 'g'),
         |    '(?i)&#(8220|8221|x201c|x201d);', '"', 'g'),
         |    '(?i)&#(8211|8212|x2013|x2014);', '-', 'g'),
         |    '(?i)&#(160|xa0);', ' ', 'g'),
         |    '&#[0-9]+;', ' ', 'g'), '(?i)&#x[0-9a-f]+;', ' ', 'g'), '&amp;', '&', 'g') AS t FROM s3)
         |SELECT pid, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS extracted_text FROM s4""".stripMargin)
  }

  /** Native codegen rolling-hash Expression ([[graft.functions.RollingHash]])
    * against its DuckDB list_reduce twin. */
  val rollingHash: OQ = OQ.df("text_rolling_hash",
    (s, _) => {
      org.apache.spark.sql.graft.SqlBridge.registerFunction(s, "rolling_hash",
        exprs => graft.functions.RollingHash(exprs.head))
      s.table("documents").selectExpr("doc_id", "rolling_hash(text) AS rh")
    },
    """SELECT doc_id, list_reduce(
      |  list_prepend(CAST(0 AS BIGINT),
      |    [CAST(unicode(c) AS BIGINT) for c in string_split(text, '')]),
      |  (h, c) -> (h * 31 + c) % 2147483647) AS rh
      |FROM documents""".stripMargin)

  val fingerprint: OQ = OQ.df("text_fingerprint",
    (s, _) => TextAnalysis.fingerprint(s.table("documents"))
      .select(col("doc_id"), col("content_md5"), col("fp60")),
    s"""SELECT doc_id, md5($NORM) AS content_md5,
       |  CAST('0x' || substr(md5($NORM), 1, 15) AS BIGINT) AS fp60
       |FROM documents""".stripMargin)

  /** Unicode canonicalization (strip \p{Cf}; \p{Cc}/\p{Zs} → space; collapse,
    * trim, lower) — the property classes mean the same thing in Java regex
    * and RE2, so both engines compute the identical string. */
  val normalize: OQ = OQ.df("text_normalize",
    (s, _) => TextAnalysis.canonicalize(s.table("documents"))
      .select(col("doc_id"), col("norm_text"), col("norm_chars")),
    """SELECT doc_id,
      |  lower(trim(regexp_replace(
      |    regexp_replace(regexp_replace(text, '\p{Cf}', '', 'g'),
      |      '[\p{Cc}\p{Zs}]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_text,
      |  CAST(len(lower(trim(regexp_replace(
      |    regexp_replace(regexp_replace(text, '\p{Cf}', '', 'g'),
      |      '[\p{Cc}\p{Zs}]', ' ', 'g'), ' +', ' ', 'g')))) AS BIGINT) AS norm_chars
      |FROM documents""".stripMargin)

  /** Top-3 TF-IDF terms per document (rank by rounded score desc, word). */
  val tfIdf: OQ = OQ.df("text_tfidf",
    (s, _) => TextAnalysis.tfIdf(s.table("documents"), topK = 3)
      .selectExpr("doc_id", "word", "CAST(tf AS BIGINT) AS tf",
        "CAST(df AS BIGINT) AS df", "score", "CAST(rank AS INT) AS rank"),
    s"""WITH dws AS (SELECT doc_id, string_split($NORM, ' ') AS ws FROM documents),
       |w AS (SELECT doc_id, unnest(ws) AS word FROM dws),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
       |wdf AS (SELECT word, count(DISTINCT doc_id) AS df FROM w2 GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (SELECT tf.doc_id, tf.word, tf.tf, wdf.df,
       |  round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (wdf.df + 1)), 6) AS score
       |  FROM tf JOIN wdf USING (word) CROSS JOIN n)
       |SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       |  score, CAST(rank AS INT) AS rank
       |FROM (SELECT scored.*,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
       |  FROM scored) r
       |WHERE rank <= 3""".stripMargin)

  /** Sparse lexical cosine over top-10 TF-IDF terms — the weighted-overlap
    * similarity axis between set Jaccard and dense cosine; the oracle
    * replays the sparsification, the inverted-index dot and both norms. */
  val tfIdfCosineQ: OQ = OQ.df("text_tfidf_cosine",
    (s, _) => TextAnalysis.tfIdfCosine(s.table("documents"),
      topTerms = 10, threshold = 0.3, maxKeptDf = 50),
    s"""WITH dws AS (SELECT doc_id, string_split($NORM, ' ') AS ws FROM documents),
       |w AS (SELECT doc_id, unnest(ws) AS word FROM dws),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
       |wdf AS (SELECT word, count(DISTINCT doc_id) AS df FROM w2 GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (SELECT tf.doc_id, tf.word,
       |  round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (wdf.df + 1)), 6) AS score
       |  FROM tf JOIN wdf USING (word) CROSS JOIN n),
       |kept AS (SELECT doc_id, word, score FROM (SELECT scored.*,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
       |  FROM scored) r WHERE rank <= 10),
       |kdf AS (SELECT word, count(*) AS kdf FROM kept GROUP BY 1),
       |light AS (SELECT k.doc_id, k.word FROM kept k JOIN kdf USING (word)
       |  WHERE kdf.kdf <= 50),
       |cand AS (SELECT DISTINCT la.doc_id AS a, lb.doc_id AS b
       |  FROM light la JOIN light lb ON la.word = lb.word AND la.doc_id < lb.doc_id),
       |norms AS (SELECT doc_id, sqrt(sum(score * score)) AS nrm
       |  FROM kept GROUP BY 1 HAVING sqrt(sum(score * score)) > 0),
       |dots AS (SELECT c.a, c.b, sum(ka.score * kb.score) AS dot
       |  FROM cand c JOIN kept ka ON ka.doc_id = c.a
       |              JOIN kept kb ON kb.doc_id = c.b AND kb.word = ka.word
       |  GROUP BY 1, 2)
       |SELECT a, b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
       |FROM dots JOIN norms na ON dots.a = na.doc_id
       |          JOIN norms nb ON dots.b = nb.doc_id
       |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.3""".stripMargin)

  /** Unigram-LM quality score: token log-probs under the corpus's own
    * unigram distribution; per-doc mean NLL + perplexity (exp of the
    * 6-dp-rounded mean, so both engines exponentiate the same double). */
  val unigramLm: OQ = OQ.df("text_unigram_lm",
    (s, _) => TextAnalysis.unigramLogProb(s.table("documents")),
    s"""WITH dws AS (SELECT doc_id, string_split($NORM, ' ') AS ws FROM documents),
       |w AS (SELECT doc_id, unnest(ws) AS word FROM dws),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
       |cf AS (SELECT word, count(*) AS cf FROM w2 GROUP BY 1),
       |n AS (SELECT count(*) AS n_total FROM w2),
       |d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  round(-sum(tf * ln(CAST(cf AS DOUBLE) / n_total)) / CAST(sum(tf) AS DOUBLE), 6)
       |    AS avg_nll
       |  FROM tf JOIN cf USING (word) CROSS JOIN n GROUP BY 1)
       |SELECT doc_id, n_tokens, avg_nll, round(exp(avg_nll), 4) AS ppl FROM d""".stripMargin)

  /** CCNet head/middle/tail perplexity tertiles per language, over the
    * unigram-LM NLL (rounded to 6 dp on both sides so the ntile ordering
    * is portable). */
  val ccnetBucketsQ: OQ = OQ.df("text_ccnet_buckets",
    (s, _) => TextAnalysis.ccnetBuckets(s.table("documents")),
    s"""WITH dws AS (SELECT doc_id, string_split($NORM, ' ') AS ws FROM documents),
       |w AS (SELECT doc_id, unnest(ws) AS word FROM dws),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
       |cf AS (SELECT word, count(*) AS cf FROM w2 GROUP BY 1),
       |n AS (SELECT count(*) AS n_total FROM w2),
       |d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  round(-sum(tf * ln(CAST(cf AS DOUBLE) / n_total)) / CAST(sum(tf) AS DOUBLE), 6)
       |    AS avg_nll
       |  FROM tf JOIN cf USING (word) CROSS JOIN n GROUP BY 1),
       |j AS (SELECT doc.doc_id, doc.lang, d.n_tokens, d.avg_nll,
       |  round(exp(d.avg_nll), 4) AS ppl
       |  FROM documents doc JOIN d ON doc.doc_id = d.doc_id),
       |t AS (SELECT j.*, CAST(ntile(3) OVER (PARTITION BY lang
       |  ORDER BY avg_nll ASC, doc_id ASC) AS INT) AS tertile FROM j)
       |SELECT doc_id, lang, n_tokens, avg_nll, ppl, tertile,
       |  CASE tertile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |    ELSE 'tail' END AS ppl_bucket
       |FROM t""".stripMargin)

  /** Bigram conditional-LM score: P(w|prev) trained on the corpus itself;
    * docs with <2 tokens produce no row (no bigrams to score). */
  val bigramLm: OQ = OQ.df("text_bigram_lm",
    (s, _) => TextAnalysis.bigramLogProb(s.table("documents")),
    s"""WITH dws AS (SELECT doc_id, string_split($NORM, ' ') AS ws FROM documents),
       |b AS (SELECT doc_id, ws[i] AS l, ws[i + 1] AS r
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
       |        FROM dws WHERE len(ws) >= 2) t),
       |tf AS (SELECT doc_id, l, r, count(*) AS tf FROM b GROUP BY 1, 2, 3),
       |c2 AS (SELECT l, r, count(*) AS c2 FROM b GROUP BY 1, 2),
       |cl AS (SELECT l, count(*) AS cl FROM b GROUP BY 1),
       |d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |  round(-sum(tf * ln(CAST(c2 AS DOUBLE) / cl)) / CAST(sum(tf) AS DOUBLE), 6)
       |    AS avg_nll2
       |  FROM tf JOIN c2 USING (l, r) JOIN cl USING (l) GROUP BY 1)
       |SELECT doc_id, n_bigrams, avg_nll2, round(exp(avg_nll2), 4) AS ppl2 FROM d""".stripMargin)

  /** Token-budget selection: quality-ranked greedy prefix under a 30k-token
    * budget. The oracle computes the SAME prefix with one global window —
    * fine at oracle scale; the Spark side is the bucketed distributed
    * cumsum that has to survive 100 TB. */
  val sampleBudget: OQ = OQ.df("sample_token_budget",
    (s, _) => graft.ops.Sampling.selectByBudget(
      TextAnalysis.qualityScore(s.table("documents"))
        .select(col("doc_id"), col("quality_score"), col("n_words")),
      tokenBudget = 30000)
      .selectExpr("doc_id", "quality_score", "CAST(n_words AS BIGINT) AS n_words",
        "CAST(cum_tokens_before AS BIGINT) AS cum_tokens_before"),
    s"""WITH q AS (SELECT doc_id, $DUCK_QUALITY AS quality_score,
       |  len(string_split($NORM, ' ')) AS n_words FROM documents),
       |c AS (SELECT doc_id, quality_score, n_words,
       |  coalesce(sum(n_words) OVER (ORDER BY quality_score DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_tokens_before
       |  FROM q)
       |SELECT doc_id, quality_score, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(cum_tokens_before AS BIGINT) AS cum_tokens_before
       |FROM c WHERE cum_tokens_before < 30000""".stripMargin)

  /** PII redaction: counts + md5 of the scrubbed text (pins every byte of
    * the redaction without hauling full text through the compare). */
  val piiRedact: OQ = {
    val email = TextAnalysis.EmailRe
    val ip = TextAnalysis.Ipv4Re
    val phone = TextAnalysis.PhoneRe
    OQ.df("text_pii_redact",
      (s, _) => TextAnalysis.redactPii(s.table("documents"))
        .selectExpr("doc_id", "CAST(n_emails AS BIGINT) AS n_emails",
          "CAST(n_ips AS BIGINT) AS n_ips", "CAST(n_phones AS BIGINT) AS n_phones",
          "md5(redacted) AS redacted_md5"),
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$email')) AS n_emails,
         |  len(regexp_extract_all(text, '$ip')) AS n_ips,
         |  len(regexp_extract_all(text, '$phone')) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '[EMAIL]', 'g'),
         |    '$ip', '[IP]', 'g'),
         |    '$phone', '[PHONE]', 'g')) AS redacted_md5
         |FROM documents""".stripMargin)
  }

  /** Top-100 corpus vocabulary, rank = (count desc, word). */
  val vocab: OQ = OQ.df("text_vocab",
    (s, _) => TextAnalysis.vocabulary(s.table("documents"), topN = 100)
      .selectExpr("word", "CAST(n AS BIGINT) AS n", "CAST(rank AS INT) AS rank"),
    s"""WITH w AS (SELECT unnest(string_split($NORM, ' ')) AS word FROM documents),
       |c AS (SELECT word, count(*) AS n FROM w WHERE word <> '' GROUP BY 1)
       |SELECT word, n, CAST(rank AS INT) AS rank
       |FROM (SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rank FROM c) r
       |WHERE rank <= 100""".stripMargin)

  /** Event sessionization: 30-min inactivity gap; session bounds emitted as
    * exact micros (string-formatting timestamps differs across engines). */
  val sessionize: OQ = OQ.df("rel_sessionize",
    (s, _) => graft.ops.Sessions.sessionize(s.table("events"))
      .selectExpr("user_id", "CAST(session_no AS BIGINT) AS session_no",
        "unix_micros(CAST(session_start AS TIMESTAMP)) AS start_us",
        "unix_micros(CAST(session_end AS TIMESTAMP)) AS end_us",
        "CAST(n_events AS BIGINT) AS n_events", "sum_value"),
    """WITH e AS (SELECT user_id, ts, event_id, value,
      |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts, value,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM e)
      |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
      |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY 1, 2""".stripMargin)

  /** Spark's native SessionWindow operator against the gap-islands SQL:
    * window end = last event + gap by Spark's definition; boundary rule
    * shared with [[sessionize]] (a gap must EXCEED the timeout to split). */
  val sessionWindow: OQ = OQ.df("rel_session_window",
    (s, _) => graft.ops.Sessions.sessionizeNative(s.table("events"))
      .selectExpr("user_id", "start_us", "end_us",
        "CAST(n_events AS BIGINT) AS n_events", "sum_value"),
    """WITH e AS (SELECT user_id, ts, event_id, value,
      |  -- Spark's session_window MERGES events exactly gap apart (verified
      |  -- on Spark 4.1.2: events 30 min apart with a 30-min gap form one
      |  -- session), so a new session starts only when the gap EXCEEDS the
      |  -- timeout — same > rule as rel_sessionize
      |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts, value,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM e)
      |SELECT user_id, epoch_us(min(ts)) AS start_us,
      |  epoch_us(max(ts)) + 1800000000 AS end_us,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, session_no""".stripMargin)

  /** Benchmark decontamination: flag training docs sharing any distinct
    * 5-gram with the held-out eval slice (portable md5 bucket < 10). */
  val contaminated: OQ = {
    val bucket = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
    OQ.df("dedup_contamination",
      (s, _) => {
        val docs = s.table("documents")
        val b = graft.ops.Sampling.hashBucket(col("doc_id"))
        Dedup.contamination(docs.where(b >= 10), docs.where(b < 10), n = 5)
          .selectExpr("doc_id", "CAST(n_contaminated_grams AS BIGINT) AS n_contaminated_grams")
      },
      s"""WITH docs AS (SELECT doc_id, $NORM AS norm, $bucket AS b FROM documents),
         |toks AS (SELECT doc_id, b, string_split(norm, ' ') AS w FROM docs),
         |wrds AS (SELECT doc_id, b, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM toks),
         |g5 AS (SELECT doc_id, b,
         |  word || ' ' || lead(word,1) OVER win || ' ' || lead(word,2) OVER win
         |    || ' ' || lead(word,3) OVER win || ' ' || lead(word,4) OVER win AS gram
         |  FROM wrds WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |sh AS (SELECT DISTINCT doc_id, b, gram FROM g5
         |  WHERE gram IS NOT NULL AND len(string_split(gram, ' ')) = 5),
         |ev AS (SELECT DISTINCT gram FROM sh WHERE b < 10),
         |tr AS (SELECT doc_id, gram FROM sh WHERE b >= 10)
         |SELECT tr.doc_id, count(*) AS n_contaminated_grams
         |FROM tr JOIN ev ON tr.gram = ev.gram
         |GROUP BY 1""".stripMargin)
  }

  /** Gopher-style repetition: top-bigram fraction per doc. The oracle
    * builds bigrams with a PER-ROW list comprehension (no window), so
    * duplicate-id rows contribute their own bigram streams and only the
    * counts merge — exactly the Spark side's semantics. */
  val repetition: OQ = OQ.df("text_repetition",
    (s, _) => TextAnalysis.repetition(s.table("documents"))
      .selectExpr("doc_id", "CAST(top_bigram_n AS BIGINT) AS top_bigram_n",
        "CAST(n_bigrams AS BIGINT) AS n_bigrams", "top_bigram_frac"),
    s"""WITH dws AS (SELECT doc_id, string_split($NORM, ' ') AS ws FROM documents),
       |b2 AS (SELECT doc_id,
       |  unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS bigram
       |  FROM dws WHERE len(ws) >= 2),
       |c AS (SELECT doc_id, bigram, count(*) AS cnt FROM b2 GROUP BY 1, 2)
       |SELECT doc_id, max(cnt) AS top_bigram_n, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |  round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_bigram_frac
       |FROM c GROUP BY 1""".stripMargin)

  /** Gopher rule gate: metrics + per-rule verdicts + the conjunction.
    * Pinned to the English stopword list (not langCol): the synthetic
    * corpus's text is the same vocabulary for every lang value, so per-row
    * lists would only inject label noise the text cannot explain. */
  val gopher: OQ = {
    val stops = TextAnalysis.Stopwords.toMap.apply("en").map(w => s"'$w'")
      .mkString("[", ", ", "]")
    OQ.df("text_gopher_filter",
      (s, _) => TextAnalysis.gopherFilter(s.table("documents"))
        .selectExpr("doc_id", "CAST(n_words AS BIGINT) AS n_words",
          "mean_word_len", "CAST(n_stop_hits AS BIGINT) AS n_stop_hits",
          "alpha_frac", "symbol_ratio", "rule_word_count", "rule_word_len",
          "rule_stopwords", "rule_alpha", "rule_symbols", "passes_gopher"),
      s"""WITH w AS (SELECT doc_id, text, string_split($NORM, ' ') AS ws FROM documents),
         |m AS (SELECT doc_id, len(ws) AS n_words,
         |  round(CAST(list_aggregate(list_transform(ws, x -> len(x)), 'sum') AS DOUBLE) / len(ws), 6) AS mean_word_len,
         |  len(list_filter(ws, x -> list_contains($stops, x))) AS n_stop_hits,
         |  round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws), 6) AS alpha_frac,
         |  round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(ws), 6) AS symbol_ratio
         |  FROM w),
         |r AS (SELECT *,
         |  (n_words BETWEEN 50 AND 100000) AS rule_word_count,
         |  (mean_word_len BETWEEN 3.0 AND 10.0) AS rule_word_len,
         |  (n_stop_hits >= 2) AS rule_stopwords,
         |  (alpha_frac >= 0.8) AS rule_alpha,
         |  (symbol_ratio <= 0.1) AS rule_symbols FROM m)
         |SELECT doc_id, n_words, mean_word_len, n_stop_hits, alpha_frac, symbol_ratio,
         |  rule_word_count, rule_word_len, rule_stopwords, rule_alpha, rule_symbols,
         |  (rule_word_count AND rule_word_len AND rule_stopwords AND rule_alpha AND rule_symbols) AS passes_gopher
         |FROM r""".stripMargin)
  }

  /** Exact substring dedup (Lee et al. ExactSubstr): merged >=30-char spans
    * whose content repeats anywhere in the corpus. The oracle hashes every
    * window with md5 while Spark uses the O(n) rolling double-hash — the
    * compared output is the position spans, which agree unless either hash
    * collides (62-bit: it doesn't at this scale). */
  val substringSpans: OQ = OQ.df("dedup_substring_spans",
    (s, _) => Dedup.substringDupSpans(s.table("documents"), windowChars = 30, minCount = 2),
    s"""WITH n AS (SELECT doc_id, $NORM AS t FROM documents),
       |p AS (SELECT doc_id, unnest(range(1, len(t) - 28)) - 1 AS pos, t FROM n),
       |hw AS (SELECT doc_id, pos, md5(substr(t, pos + 1, 30)) AS h FROM p),
       |dup AS (SELECT h FROM hw GROUP BY 1 HAVING count(*) >= 2),
       |mk AS (SELECT hw.doc_id, hw.pos FROM hw JOIN dup USING (h)),
       |lg AS (SELECT doc_id, pos,
       |  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM mk),
       |br AS (SELECT doc_id, pos,
       |  CASE WHEN prev IS NULL OR pos - prev > 30 THEN 1 ELSE 0 END AS brk FROM lg),
       |isl AS (SELECT doc_id, pos, sum(brk) OVER (
       |  PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM br)
       |SELECT doc_id, CAST(island - 1 AS INT) AS span_id,
       |  CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + 30 AS BIGINT) AS span_end,
       |  CAST(max(pos) + 30 - min(pos) AS BIGINT) AS span_chars
       |FROM isl GROUP BY doc_id, island""".stripMargin)

  /** Span-level decontamination: training docs (md5 doc_id bucket >= 10)
    * against the eval slice (bucket < 10) — merged leaked spans. */
  val contaminationSpansQ: OQ = {
    val bucket = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
    OQ.df("dedup_contamination_spans",
      (s, _) => {
        val b = graft.ops.Sampling.hashBucket(col("doc_id"))
        val docs = s.table("documents")
        Dedup.contaminationSpans(docs.where(b >= 10), docs.where(b < 10), 30)
      },
      s"""WITH n AS (SELECT doc_id, $NORM AS t, $bucket AS b FROM documents),
         |p AS (SELECT doc_id, b, unnest(range(1, len(t) - 28)) - 1 AS pos, t FROM n),
         |hw AS (SELECT doc_id, b, pos, md5(substr(t, pos + 1, 30)) AS h FROM p),
         |ev AS (SELECT DISTINCT h FROM hw WHERE b < 10),
         |mk AS (SELECT hw.doc_id, hw.pos FROM hw JOIN ev USING (h) WHERE hw.b >= 10),
         |lg AS (SELECT doc_id, pos,
         |  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM mk),
         |br AS (SELECT doc_id, pos,
         |  CASE WHEN prev IS NULL OR pos - prev > 30 THEN 1 ELSE 0 END AS brk FROM lg),
         |isl AS (SELECT doc_id, pos, sum(brk) OVER (
         |  PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM br)
         |SELECT doc_id, CAST(island - 1 AS INT) AS span_id,
         |  CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 30 AS BIGINT) AS span_end,
         |  CAST(max(pos) + 30 - min(pos) AS BIGINT) AS span_chars
         |FROM isl GROUP BY doc_id, island""".stripMargin)
  }

  /** ExactSubstr END-TO-END: detect duplicate spans, then cut them out and
    * stitch the remainder — the actionable form of dedup_substring_spans.
    * The oracle recomputes spans (same CTE chain) and stitches with the
    * same lag-window piece arithmetic over the normalized text. */
  val substringRemoved: OQ = OQ.df("dedup_substring_removed",
    (s, _) => {
      val docs = s.table("documents")
      Dedup.removeSpans(docs, Dedup.substringDupSpans(docs, 30, 2))
    },
    s"""WITH n AS (SELECT doc_id, $NORM AS t FROM documents),
       |p AS (SELECT doc_id, unnest(range(1, len(t) - 28)) - 1 AS pos, t FROM n),
       |hw AS (SELECT doc_id, pos, md5(substr(t, pos + 1, 30)) AS h FROM p),
       |dup AS (SELECT h FROM hw GROUP BY 1 HAVING count(*) >= 2),
       |mk AS (SELECT hw.doc_id, hw.pos FROM hw JOIN dup USING (h)),
       |lg AS (SELECT doc_id, pos,
       |  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM mk),
       |br AS (SELECT doc_id, pos,
       |  CASE WHEN prev IS NULL OR pos - prev > 30 THEN 1 ELSE 0 END AS brk FROM lg),
       |isl AS (SELECT doc_id, pos, sum(brk) OVER (
       |  PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM br),
       |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 30 AS e
       |  FROM isl GROUP BY doc_id, island),
       |pc AS (SELECT doc_id, s, e,
       |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS f FROM sp),
       |stitched AS (SELECT pc.doc_id,
       |  string_agg(substr(n.t, CAST(f + 1 AS INT), CAST(s - f AS INT)), '' ORDER BY s) AS head,
       |  max(e) AS last_e, CAST(sum(e - s) AS BIGINT) AS n_removed_chars
       |  FROM pc JOIN n USING (doc_id) GROUP BY 1)
       |SELECT n.doc_id,
       |  CASE WHEN st.last_e IS NULL THEN n.t
       |       ELSE st.head || substr(n.t, CAST(st.last_e + 1 AS INT)) END AS clean_text,
       |  coalesce(st.n_removed_chars, 0) AS n_removed_chars
       |FROM n LEFT JOIN stitched st USING (doc_id)""".stripMargin)

  /** Robust MAD outlier gate over event values per type; the oracle applies
    * the IDENTICAL rounded robust-z comparison so the boundary agrees. */
  val outliersMad: OQ = OQ.df("check_outliers_mad",
    (s, _) => graft.ops.Outliers.byMad(s.table("events"), "value",
        Seq("event_type"), k = 3.5)
      .where(col("is_outlier"))
      .select(col("event_id"), col("event_type"), col("value"), col("robust_z")),
    """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
      |  FROM events GROUP BY 1),
      |wm AS (SELECT e.event_id, e.event_type, e.value, med.m FROM events e
      |  JOIN med ON e.event_type = med.event_type),
      |mad AS (SELECT event_type, quantile_cont(abs(value - m), 0.5) AS d
      |  FROM wm GROUP BY 1)
      |SELECT event_id, wm.event_type, value,
      |  CASE WHEN d = 0 THEN NULL
      |       ELSE round(abs(value - m) / (1.4826 * d), 6) END AS robust_z
      |FROM wm JOIN mad ON wm.event_type = mad.event_type
      |WHERE CASE WHEN d = 0 THEN value <> m
      |           ELSE round(abs(value - m) / (1.4826 * d), 6) > 3.5 END""".stripMargin)

  /** Dataset-card stats per (lang, source) stratum in one aggregation. */
  val corpusStats: OQ = OQ.df("corpus_stats",
    (s, _) => TextAnalysis.corpusStats(s.table("documents")),
    s"""SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(len(string_split($NORM, ' '))) AS BIGINT) AS total_ws_tokens,
       |  CAST(min(len(text)) AS BIGINT) AS min_chars,
       |  CAST(max(len(text)) AS BIGINT) AS max_chars,
       |  round(avg(len(text)), 6) AS avg_chars,
       |  round(quantile_cont(len(text), 0.5), 6) AS median_chars
       |FROM documents GROUP BY 1, 2""".stripMargin)

  /** C4-style boilerplate span removal: 5-word segments shared by >= 2 docs
    * (the injected near-dup overlap) are dropped and the survivors
    * reassembled in order; fully-boilerplate docs stay with empty text. */
  val spanDedup: OQ = OQ.df("text_span_dedup",
    (s, _) => TextAnalysis.spanDedup(s.table("documents"), spanTokens = 5, maxDf = 2)
      .select("doc_id", "text_deduped", "n_spans_kept"),
    s"""WITH ls0 AS (SELECT doc_id,
       |  string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ls FROM documents),
       |toks AS (SELECT doc_id, unnest(ls) AS w, generate_subscripts(ls, 1) - 1 AS pos
       |  FROM ls0 WHERE len(ls) > 0 AND ls <> ['']),
       |segs AS (SELECT doc_id, pos // 5 AS spos, string_agg(w, ' ' ORDER BY pos) AS segment
       |  FROM toks GROUP BY 1, 2),
       |heavy AS (SELECT lower(segment) AS k FROM segs GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |kept AS (SELECT s.doc_id, s.spos, s.segment FROM segs s
       |  LEFT JOIN heavy h ON lower(s.segment) = h.k WHERE h.k IS NULL),
       |agg AS (SELECT doc_id, string_agg(segment, ' ' ORDER BY spos) AS text_deduped,
       |  count(*) AS n_spans_kept FROM kept GROUP BY 1)
       |SELECT d.doc_id, coalesce(a.text_deduped, '') AS text_deduped,
       |  CAST(coalesce(a.n_spans_kept, 0) AS BIGINT) AS n_spans_kept
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)

  /** C4 document filter (Raffel et al. 2020 §2.2). The synthetic corpus has
    * no line structure or punctuation, so both sides first apply the SAME
    * deterministic rewrite — ' sort '/' merge ' become sentence-final
    * line breaks, 'slow table' becomes 'lorem ipsum', 'vector' becomes '{'
    * — then the filter rules run for real: terminal-punctuation line
    * retention, min words per line, lorem-ipsum / brace / sentence-count
    * document verdicts. */
  val c4FilterQ: OQ = OQ.df("text_c4_filter",
    (s, _) => TextAnalysis.c4Filter(
      s.table("documents").withColumn("text",
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          "slow table", "lorem ipsum"), "vector", "{"), " (sort|merge) ", ".\n")),
      minWordsPerLine = 3, minSentences = 3)
      .select("doc_id", "text_filtered", "n_lines_kept", "n_lines_dropped",
        "n_sentences", "rule_no_lorem", "rule_no_brace", "rule_sentences",
        "passes_c4"),
    s"""WITH t AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    'slow table', 'lorem ipsum', 'g'), 'vector', '{', 'g'),
       |    ' (sort|merge) ', '.' || chr(10), 'g') AS tx FROM documents),
       |lx AS (SELECT doc_id, tx,
       |  list_filter(string_split(tx, chr(10)), l ->
       |    regexp_matches(trim(regexp_replace(l, '\\s+', ' ', 'g')), '[.!?"]$$')
       |    AND len(string_split(trim(regexp_replace(l, '\\s+', ' ', 'g')), ' ')) >= 3
       |    AND NOT contains(lower(trim(regexp_replace(l, '\\s+', ' ', 'g'))), 'javascript')) AS kept,
       |  len(string_split(tx, chr(10))) AS n_lines FROM t),
       |f AS (SELECT doc_id, tx,
       |  coalesce(array_to_string(kept, chr(10)), '') AS text_filtered,
       |  len(kept) AS nk, n_lines - len(kept) AS nd FROM lx),
       |g AS (SELECT doc_id, tx, text_filtered, nk, nd,
       |  len(regexp_replace(text_filtered, '[^.!?]', '', 'g')) AS ns FROM f)
       |SELECT doc_id, text_filtered,
       |  CAST(nk AS BIGINT) AS n_lines_kept, CAST(nd AS BIGINT) AS n_lines_dropped,
       |  CAST(ns AS BIGINT) AS n_sentences,
       |  NOT contains(lower(tx), 'lorem ipsum') AS rule_no_lorem,
       |  NOT contains(tx, '{') AS rule_no_brace,
       |  ns >= 3 AS rule_sentences,
       |  (NOT contains(lower(tx), 'lorem ipsum')) AND (NOT contains(tx, '{'))
       |    AND ns >= 3 AS passes_c4
       |FROM g""".stripMargin)

  /** Full Gopher repetition battery (Rae et al. Table A1). Line structure
    * induced with the standard rewrite; word signals run on the rewritten
    * text's normalized words so both sides see the same token stream. The
    * oracle unrolls one CTE block per n — top 2/3/4-gram coverage picks the
    * (count desc, chars desc, gram asc) argmax, duplicated 5..10-gram
    * coverage unions occurrence positions before counting characters. */
  val gopherRepetitionQ: OQ = {
    val topN = Seq(2, 3, 4)
    val dupN = Seq(5, 6, 7, 8, 9, 10)
    def gramCte(n: Int) =
      s"""g$n AS (SELECT doc_id, unnest(generate_series(1, len(ws) - ${n - 1})) AS s, ws
         |  FROM base),
         |gg$n AS (SELECT doc_id, s,
         |  array_to_string(list_slice(ws, s, s + ${n - 1}), ' ') AS gram FROM g$n)""".stripMargin
    val topCtes = topN.map { n =>
      s"""${gramCte(n)},
         |tc$n AS (SELECT doc_id, gram, count(*) AS c,
         |  min(len(replace(gram, ' ', ''))) AS gchars FROM gg$n GROUP BY 1, 2),
         |t$n AS (SELECT doc_id, c, gchars FROM tc$n
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, gchars DESC, gram ASC) = 1)""".stripMargin
    }
    val dupCtes = dupN.map { n =>
      s"""${gramCte(n)},
         |dd$n AS (SELECT doc_id, gram FROM gg$n GROUP BY 1, 2 HAVING count(*) > 1),
         |dc$n AS (SELECT DISTINCT gg$n.doc_id, unnest(generate_series(s, s + ${n - 1})) AS p
         |  FROM gg$n JOIN dd$n ON gg$n.doc_id = dd$n.doc_id AND gg$n.gram = dd$n.gram),
         |ds$n AS (SELECT w.doc_id, sum(len(w.word)) AS chars FROM wrds w
         |  JOIN dc$n c ON w.doc_id = c.doc_id AND w.pos = c.p GROUP BY 1)""".stripMargin
    }
    def topSel(n: Int, thr: Double) = Seq(
      s"""CASE WHEN tot.tc = 0 THEN 0.0 ELSE
         |  coalesce(round(t$n.c * t$n.gchars / CAST(tot.tc AS DOUBLE), 6), 0.0)
         |  END AS top_${n}gram_char_frac""".stripMargin,
      s"top_${n}gram_char_frac <= $thr")
    def dupSel(n: Int, thr: Double) = Seq(
      s"""CASE WHEN tot.tc = 0 THEN 0.0 ELSE
         |  coalesce(round(ds$n.chars / CAST(tot.tc AS DOUBLE), 6), 0.0)
         |  END AS dup_${n}gram_char_frac""".stripMargin,
      s"dup_${n}gram_char_frac <= $thr")
    val sels = topN.zip(Seq(0.20, 0.18, 0.16)).map { case (n, t) => topSel(n, t) } ++
      dupN.zip(Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10)).map { case (n, t) => dupSel(n, t) }
    val joins = topN.map(n => s"LEFT JOIN t$n ON base.doc_id = t$n.doc_id") ++
      dupN.map(n => s"LEFT JOIN ds$n ON base.doc_id = ds$n.doc_id")
    OQ.df("text_gopher_repetition",
      (s, _) => TextAnalysis.gopherRepetition(
        s.table("documents")
          .withColumn("text", regexp_replace(col("text"), " (the|a) ", "\n"))),
      s"""WITH rw AS (SELECT doc_id,
         |  regexp_replace(text, ' (the|a) ', chr(10), 'g') AS tx FROM documents),
         |base AS (SELECT doc_id,
         |  string_split(trim(regexp_replace(lower(tx), '\\s+', ' ', 'g')), ' ') AS ws,
         |  string_split(tx, chr(10)) AS lines FROM rw),
         |lx AS (SELECT doc_id, unnest(lines) AS l FROM base),
         |lcnt AS (SELECT doc_id, l, count(*) AS c, len(l) AS lc FROM lx GROUP BY 1, 2),
         |lsig AS (SELECT doc_id,
         |  round(CAST(sum(c - 1) AS DOUBLE) / sum(c), 6) AS dup_line_frac,
         |  CASE WHEN sum(c * lc) = 0 THEN 0.0 ELSE
         |    round(CAST(sum((c - 1) * lc) AS DOUBLE) / sum(c * lc), 6) END
         |    AS dup_line_char_frac
         |  FROM lcnt GROUP BY 1),
         |wrds AS (SELECT doc_id, unnest(ws) AS word,
         |  generate_subscripts(ws, 1) AS pos FROM base),
         |tot AS (SELECT doc_id, sum(len(word)) AS tc FROM wrds GROUP BY 1),
         |${(topCtes ++ dupCtes).mkString(",\n")}
         |SELECT base.doc_id, lsig.dup_line_frac, lsig.dup_line_char_frac,
         |${sels.map(_.head).mkString(",\n")},
         |(lsig.dup_line_frac <= 0.30 AND lsig.dup_line_char_frac <= 0.20 AND
         | ${sels.map(_.last).mkString(" AND\n ")}) AS passes_repetition
         |FROM base
         |JOIN lsig ON base.doc_id = lsig.doc_id
         |JOIN tot ON base.doc_id = tot.doc_id
         |${joins.mkString("\n")}""".stripMargin)
  }

  /** Line-level corpus dedup (CCNet / RefinedWeb). The synthetic corpus is
    * single-line, so both sides induce line boundaries with the SAME
    * deterministic rewrite first — every ' the '/' a ' becomes a newline —
    * then drop lines whose corpus-wide document frequency reaches 3 and
    * reassemble. Java regex and RE2 agree on this pattern (leftmost-first
    * alternation, scan resumes after each replacement). */
  val lineDedupQ: OQ = OQ.df("text_line_dedup",
    (s, _) => TextAnalysis.lineDedup(
      s.table("documents")
        .withColumn("text", regexp_replace(col("text"), " (the|a) ", "\n")),
      minDf = 3),
    s"""WITH lined AS (SELECT doc_id,
       |  string_split(regexp_replace(text, ' (the|a) ', chr(10), 'g'), chr(10)) AS lines
       |  FROM documents),
       |ex AS (SELECT doc_id, unnest(lines) AS line, generate_subscripts(lines, 1) AS i
       |  FROM lined),
       |heavy AS (SELECT line FROM ex GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
       |kept AS (SELECT e.doc_id, e.line, e.i FROM ex e
       |  LEFT JOIN heavy h ON e.line = h.line WHERE h.line IS NULL),
       |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text_deduped,
       |  count(*) AS n_lines_kept FROM kept GROUP BY 1)
       |SELECT d.doc_id, coalesce(a.text_deduped, '') AS text_deduped,
       |  CAST(coalesce(a.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
       |  CAST(len(l.lines) - coalesce(a.n_lines_kept, 0) AS BIGINT) AS n_lines_removed
       |FROM documents d JOIN lined l USING (doc_id)
       |LEFT JOIN agg a USING (doc_id)""".stripMargin)

  /** Cross-stratum shingle-overlap matrix: exact Jaccard between the
    * distinct 3-gram sets of each pair of sources. Zero-intersection pairs
    * are absent by contract on both sides. */
  val corpusOverlapQ: OQ = OQ.df("corpus_overlap",
    (s, _) => Dedup.corpusOverlap(s.table("documents"), groupCol = "source", n = 3),
    s"""WITH docs AS (SELECT doc_id, source, $NORM AS norm FROM documents),
       |toks AS (SELECT doc_id, source, string_split(norm, ' ') AS w FROM docs),
       |wrds AS (SELECT doc_id, source, unnest(w) AS word,
       |  generate_subscripts(w, 1) AS pos FROM toks),
       |grams3 AS (SELECT doc_id, source,
       |  word || ' ' || lead(word,1) OVER win || ' ' || lead(word,2) OVER win AS gram
       |  FROM wrds WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |sh AS (SELECT DISTINCT source, gram FROM grams3
       |  WHERE gram IS NOT NULL AND len(string_split(gram, ' ')) = 3),
       |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.source AS group_a, b.source AS group_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.gram = b.gram AND a.source < b.source GROUP BY 1, 2)
       |SELECT group_a, group_b, sa.n AS n_a, sb.n AS n_b, n_common,
       |  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
       |FROM inter JOIN sz sa ON group_a = sa.source
       |JOIN sz sb ON group_b = sb.source""".stripMargin)

  // ---- sampling -----------------------------------------------------------

  /** Portable md5 bucket in both dialects. */
  private val DUCK_BUCKET =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"

  /** Deterministic stratified sample: 50% of 'en', 100% of 'de', 10% rest. */
  val sampleStratified: OQ = OQ.df("sample_stratified",
    (s, _) => graft.ops.Sampling.stratified(s.table("documents"), "lang",
      Map("en" -> 50, "de" -> 100), defaultRate = 10)
      .select("doc_id", "lang", "source"),
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE $DUCK_BUCKET <
       |  CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 100 ELSE 10 END""".stripMargin)

  /** Per-group top-k via the bounded-heap aggregate (top-3 orders per
    * customer by price desc, key asc) — oracle is the window-rank form, so
    * equal output proves the heap plan ≡ row_number() <= k exactly. */
  val groupTopKQ: OQ = OQ.df("rel_group_topk",
    (s, _) => graft.ops.Sampling.groupTopK(
      s.table("orders").select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"),
      Seq((-col("o_totalprice")).as("np"), col("o_orderkey").as("ok")), k = 3),
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin)

  /** Exact-k-per-group deterministic reservoir: the 10 docs per source with
    * the smallest md5('graft:' || id) — same rows every run, every engine. */
  val groupReservoirQ: OQ = OQ.df("sample_group_reservoir",
    (s, _) => graft.ops.Sampling.reservoirByGroup(
      s.table("documents").select("source", "doc_id", "lang"),
      "source", k = 10),
    """SELECT source, doc_id, lang FROM (
      |  SELECT source, doc_id, lang,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) WHERE rn <= 10""".stripMargin)

  /** DSIR importance scores (Xie et al. 2023): hashed unigram+bigram
    * features, Laplace-smoothed bucket distributions, per-doc
    * target-vs-raw log ratio sums, deterministic md5-derived Gumbel keys.
    * Target = the 'en' stratum; raw = the whole corpus. The oracle replays
    * the identical feature hash, smoothing, and noise. */
  /** Efraimidis–Spirakis weighted sampling ([[Sampling.weightedTopK]]):
    * 100 docs drawn without replacement proportional to n_chars. The
    * oracle recomputes the md5-derived keys and must draw the identical
    * set (rounded keys, id tie-break). */
  val weightedTopKQ: OQ = OQ.df("sample_weighted_topk",
    (s, _) => graft.ops.Sampling.weightedTopK(s.table("documents")
      .select("doc_id", "n_chars"), k = 100, weightCol = "n_chars"),
    """WITH w AS (SELECT doc_id, n_chars,
      |    round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      |        % 1000000 + 0.5) / 1000000.0)
      |      / CAST(n_chars AS DOUBLE), 6) AS es_key
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
      |SELECT doc_id, n_chars, es_key FROM w
      |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin)

  /** Per-language z-score quality normalization
    * ([[TextAnalysis.qualityZScore]]): same composite score as
    * `text_quality_score`, centered and scaled per language so one global
    * threshold compares across languages. */
  val qualityZScoreQ: OQ = OQ.df("text_quality_zscore",
    (s, _) => TextAnalysis.qualityZScore(s.table("documents")),
    s"""WITH q AS (SELECT doc_id, lang, $DUCK_QUALITY AS quality_score
       |  FROM documents),
       |st AS (SELECT lang, avg(quality_score) AS mu,
       |    stddev_samp(quality_score) AS sigma FROM q GROUP BY 1)
       |SELECT doc_id, q.lang, quality_score,
       |  round(mu, 6) AS lang_mean,
       |  CASE WHEN sigma > 0
       |    THEN round((quality_score - mu) / sigma, 6) END AS quality_z
       |FROM q JOIN st ON q.lang = st.lang""".stripMargin)

  val dsirScoresQ: OQ = OQ.df("sample_dsir_scores",
    (s, _) => graft.ops.Dsir.scores(
      s.table("documents"),
      s.table("documents").where(col("lang") === "en"),
      buckets = 1024),
    s"""WITH dws AS (SELECT doc_id, lang, string_split($NORM, ' ') AS ws FROM documents),
       |uni AS (SELECT doc_id, lang, unnest(ws) AS gram FROM dws),
       |bi AS (SELECT doc_id, lang,
       |  unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS gram
       |  FROM dws WHERE len(ws) >= 2),
       |g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
       |gb AS (SELECT doc_id, lang,
       |  CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % 1024 AS bucket FROM g),
       |rawc AS (SELECT bucket, count(*) AS c FROM gb GROUP BY 1),
       |rawn AS (SELECT sum(c) AS n FROM rawc),
       |tgtc AS (SELECT bucket, count(*) AS c FROM gb WHERE lang = 'en' GROUP BY 1),
       |tgtn AS (SELECT sum(c) AS n FROM tgtc),
       |bk AS (SELECT unnest(generate_series(0, 1023)) AS bucket),
       |lam AS (SELECT bk.bucket,
       |  ln((coalesce(t.c, 0) + 1) / CAST(tn.n + 1024 AS DOUBLE)) -
       |  ln((coalesce(r.c, 0) + 1) / CAST(rn.n + 1024 AS DOUBLE)) AS lam
       |  FROM bk LEFT JOIN tgtc t ON bk.bucket = t.bucket
       |  LEFT JOIN rawc r ON bk.bucket = r.bucket, tgtn tn, rawn rn),
       |sc AS (SELECT gb.doc_id, count(*) AS n_grams, sum(l.lam) AS log_importance
       |  FROM gb JOIN lam l ON gb.bucket = l.bucket GROUP BY 1)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, log_importance,
       |  log_importance - ln(-ln(
       |    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |      % 1000000 + 0.5) / 1000000.0)) AS gumbel_key
       |FROM sc""".stripMargin)

  /** Deterministic 80/10/10 split; oracle checks the per-(split, lang)
    * histogram — the contamination-sensitive invariant. */
  val sampleSplit: OQ = OQ.df("sample_split",
    (s, _) => graft.ops.Sampling.split(s.table("documents"), 80, 10)
      .groupBy("split", "lang").agg(count("*").cast("long").as("n")),
    s"""SELECT CASE WHEN $DUCK_BUCKET < 80 THEN 'train'
       |            WHEN $DUCK_BUCKET < 90 THEN 'valid'
       |            ELSE 'test' END AS split,
       |  lang, count(*) AS n
       |FROM documents GROUP BY 1, 2""".stripMargin)

  /** Mixture rebalance to target lang weights (en .4 / de .2 / es .2 /
    * fr .1 / zh .1): per-stratum keep-rates DERIVED from corpus counts
    * (capacity = min n_s/w_s, binding stratum keeps 100%), portable md5
    * keep decision — the training-data "data mixing" step. */
  val sampleMixture: OQ = {
    val duckW = "CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2 " +
      "WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.1 ELSE 0.0 END"
    OQ.df("sample_mixture",
      (s, _) => graft.ops.Sampling.mixture(s.table("documents"), "lang",
        Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1, "zh" -> 0.1))
        .select("doc_id", "lang", "source"),
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |cw AS (SELECT lang, n, CAST($duckW AS DOUBLE) AS w FROM c),
         |cap AS (SELECT min(CAST(n AS DOUBLE) / w) AS cap FROM cw WHERE w > 0),
         |r AS (SELECT lang, round(least(CAST(1.0 AS DOUBLE), w * cap / n), 6) AS rate
         |  FROM cw CROSS JOIN cap WHERE w > 0)
         |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN r USING (lang)
         |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |  % 1000000 AS DOUBLE) / 1000000 < rate""".stripMargin)
  }

  /** Token-mass mixture: the same derived-rate rebalance with weights
    * over the n_chars MASS instead of document counts — what "60% web
    * TOKENS" actually asks for under per-source length skew. */
  val sampleMixtureTokens: OQ = {
    val duckW = "CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2 " +
      "WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.1 ELSE 0.0 END"
    OQ.df("sample_mixture_tokens",
      (s, _) => graft.ops.Sampling.mixtureByMass(s.table("documents"), "lang",
        Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1, "zh" -> 0.1),
        massCol = "n_chars")
        .select("doc_id", "lang", "source"),
      s"""WITH c AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS m FROM documents GROUP BY 1),
         |cw AS (SELECT lang, m, CAST($duckW AS DOUBLE) AS w FROM c),
         |cap AS (SELECT min(CAST(m AS DOUBLE) / w) AS cap FROM cw WHERE w > 0 AND m > 0),
         |r AS (SELECT lang, round(least(CAST(1.0 AS DOUBLE), w * cap / m), 6) AS rate
         |  FROM cw CROSS JOIN cap WHERE w > 0 AND m > 0)
         |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN r USING (lang)
         |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |  % 1000000 AS DOUBLE) / 1000000 < rate""".stripMargin)
  }

  /** Epoch mixture ([[graft.ops.Sampling.epochMixture]]): upsampling by
    * per-language epoch counts — en repeats 2.5× (every row twice, half
    * the rows a third time), de 1×, fr 0.25×, everything else drops. The
    * oracle regenerates the copies with range()/unnest and must produce
    * the identical (doc, copy) multiset. */
  val sampleEpochs: OQ = OQ.df("sample_mixture_epochs",
    (s, _) => graft.ops.Sampling.epochMixture(s.table("documents")
      .select("doc_id", "lang"), "lang",
      Map("en" -> 2.5, "de" -> 1.0, "fr" -> 0.25))
      .select("doc_id", "lang", "copy"),
    """WITH r AS (SELECT doc_id, lang,
      |    CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.0
      |      WHEN 'fr' THEN 0.25 ELSE 0.0 END AS e,
      |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      |      % 1000000 AS DOUBLE) / 1000000 AS u
      |  FROM documents),
      |c AS (SELECT doc_id, lang,
      |    CAST(floor(e) + CASE WHEN u < e - floor(e) THEN 1 ELSE 0 END AS INT) AS n
      |  FROM r WHERE e > 0)
      |SELECT doc_id, lang, CAST(unnest(range(n)) AS INT) AS copy
      |FROM c WHERE n > 0""".stripMargin)

  /** Temperature-scaled mixture at alpha=0.3: rare languages up-weighted
    * relative to natural frequency, weights derived in-query. */
  val sampleTemperature: OQ = OQ.df("sample_temperature_mixture",
    (s, _) => graft.ops.Sampling.temperatureMixture(s.table("documents"),
        "lang", alpha = 0.3)
      .select("doc_id", "lang", "source"),
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents
       |  WHERE lang IS NOT NULL GROUP BY 1),
       |tot AS (SELECT sum(n) AS t FROM c),
       |cw AS (SELECT lang, n, pow(CAST(n AS DOUBLE) / t, 0.3) AS w
       |  FROM c CROSS JOIN tot),
       |cap AS (SELECT min(CAST(n AS DOUBLE) / w) AS cap FROM cw),
       |r AS (SELECT lang, round(least(CAST(1.0 AS DOUBLE), w * cap / n), 6) AS rate
       |  FROM cw CROSS JOIN cap)
       |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN r USING (lang)
       |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |  % 1000000 AS DOUBLE) / 1000000 < rate""".stripMargin)

  /** Deterministic epoch shuffle + 8-way sharding: portable md5(seed:id)
    * order key, shard by its leading 32 bits, dense in-shard positions. */
  val sampleShards: OQ = OQ.df("sample_shards",
    (s, _) => graft.ops.Sampling.shardAssign(s.table("documents"),
      nShards = 8, seed = "epoch0")
      .select("doc_id", "shuffle_key", "shard_id", "shard_pos"),
    s"""WITH k AS (SELECT doc_id,
       |  md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key FROM documents),
       |s AS (SELECT doc_id, shuffle_key,
       |  CAST(CAST('0x' || substr(shuffle_key, 1, 8) AS BIGINT) % 8 AS INT) AS shard_id
       |  FROM k)
       |SELECT doc_id, shuffle_key, shard_id,
       |  CAST(row_number() OVER (PARTITION BY shard_id ORDER BY shuffle_key, doc_id)
       |    AS BIGINT) AS shard_pos
       |FROM s""".stripMargin)

  /** LEAKAGE-PROOF split: the split decision hashes the content-cluster
    * REPRESENTATIVE (exact-dedup keep_id), so byte-identical documents can
    * never straddle train/test — the eval-contamination failure mode of
    * row-wise splitting. Composition of [[Dedup.exact]] + [[Sampling.split]];
    * reported as the per-(split, lang) histogram like `sample_split`. */
  val sampleSplitGrouped: OQ = OQ.df("sample_split_grouped",
    (s, _) => {
      val docs = s.table("documents")
      val canon = Dedup.exact(docs)
        .select(col("content_hash"), col("keep_id"))
      val withCanon = docs
        .withColumn("content_hash", md5(TextAnalysis.normText(col("text"))))
        .join(canon, Seq("content_hash"))
      graft.ops.Sampling.split(withCanon, 80, 10, idCol = "keep_id")
        .groupBy("split", "lang").agg(count("*").cast("long").as("n"))
    },
    s"""WITH k AS (SELECT md5($NORM) AS content_hash, min(doc_id) AS keep_id
       |  FROM documents GROUP BY 1),
       |d AS (SELECT documents.doc_id, documents.lang, k.keep_id
       |  FROM documents JOIN k ON md5($NORM) = k.content_hash),
       |b AS (SELECT lang,
       |  CAST('0x' || substr(md5(CAST(keep_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
       |    AS bk FROM d)
       |SELECT CASE WHEN bk < 80 THEN 'train'
       |            WHEN bk < 90 THEN 'valid'
       |            ELSE 'test' END AS split,
       |  lang, count(*) AS n
       |FROM b GROUP BY 1, 2""".stripMargin)

  /** Capstone: the curation pipeline end-to-end, the full modern recipe —
    * Gopher rule gate → line-level dedup → fuzzy (df-capped 3-gram
    * Jaccard) dedup → benchmark decontamination → language-mixture
    * rebalance → deterministic 80/10/10 split — reported as the
    * per-(split, lang) corpus histogram. Composes [[TextAnalysis
    * .gopherFilter]], [[TextAnalysis.lineDedup]], [[Dedup.jaccardPairs]],
    * [[Dedup.contamination]], [[Sampling.mixture]] and [[Sampling.split]]
    * with the exact semantics each one's standalone key pins; the held-out
    * eval slice (id-hash bucket < 10) is removed from the training corpus
    * along with any train doc sharing a 5-gram with it. Every stage is a
    * shuffle-bounded set operation (gate and split are scan-side, dedups
    * are gram-keyed joins with df caps, mixture is a broadcast rate
    * table), so the composition inherits each component's 100 TB shape. */
  val curation: OQ = {
    val stops = TextAnalysis.Stopwords.toMap.apply("en").map(w => s"'$w'")
      .mkString("[", ", ", "]")
    val bucket = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
    val duckW = "CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2 " +
      "WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.1 ELSE 0.0 END"
    OQ.df("pipeline_data_curation",
      (s, _) => {
        val docs = s.table("documents")
        // 1. GATE: Gopher rule conjunction on the raw text.
        // The NARROW id set is checkpointed (r21, measured): every later
        // `gated` reference then re-reads parquet (cheap, pruned scan) and
        // joins the pinned doc_id longs instead of re-running the Gopher
        // regex battery per reference. r20 measured-and-rejected the WIDE
        // checkpoint here — `gated` with text included was neutral-to-worse
        // (warm 5.6 → 6.4 s) because serializing the full corpus into a
        // fourth stage barrier costs more than the scoring it saves; the
        // id-only pin keeps that saving without the corpus-sized write.
        val gateIds = Barrier.pin(TextAnalysis.gopherFilter(docs)
          .where(col("passes_gopher")).select("doc_id"))
        val gated = docs.join(gateIds, Seq("doc_id"))
        // 2. LINE DEDUP: induce line structure, drop corpus-heavy lines;
        // docs with no surviving line fall out of the corpus
        // hashKeys: the heavy-line df count and anti-join key on xxhash64
        // of the line (the petabyte knob); the reassembled text — what the
        // oracle compares through the later stages — is unchanged
        val lined = TextAnalysis.lineDedup(
          gated.withColumn("text", regexp_replace(col("text"), " (the|a) ", "\n")),
          minDf = 3, hashKeys = true)
        // Stage boundaries are PINNED ([[Barrier.pin]]): in the
        // reference every pipeline stage is a materialized asset, and the
        // dedup / contamination stages each fan the previous stage into
        // several plan branches. A plain persist is not enough here — the
        // composed logical tree grows so large that CATALYST RE-PLANNING
        // (canonicalize + optimize per action) costs ~2 s per downstream
        // action even on fully cached data (measured); truncating lineage
        // at each stage makes every later stage plan against a leaf.
        // 52 s → ~8 s at sf0.1, and the same move a 100 TB run makes by
        // writing each stage to a table.
        val cleaned = Barrier.pin(gated.drop("text").join(
          lined.where(col("n_lines_kept") >= 1)
            .select(col("doc_id"), col("text_deduped").as("text")), Seq("doc_id")))
        // 3. FUZZY DEDUP on the cleaned text: any >= 0.5-Jaccard pair drops
        // its higher id (df-capped candidate generation, exact re-verify).
        // [[Dedup.jaccardPairsPrefix]] is an output-identical drop-in when
        // the corpus is clique-heavy enough that candidate volume, not
        // fixed stage overhead, dominates (sf10: 86.7M vs 156.8M shuffle
        // rows).
        val losers = Dedup.jaccardPairs(cleaned, n = 3, threshold = 0.5,
            maxDocFreq = 20)
          .select(col("b").as("doc_id")).distinct()
        val fuzzy = Barrier.pin(cleaned.join(losers, Seq("doc_id"), "left_anti"))
        // 4. DECONTAMINATION: the eval slice (bucket < 10) leaves the
        // training corpus, and so does any train doc sharing a 5-gram
        val b = graft.ops.Sampling.hashBucket(col("doc_id"))
        val train = fuzzy.where(b >= 10)
        val dirty = Dedup.contamination(train, fuzzy.where(b < 10), n = 5)
          .select("doc_id")
        val decon = Barrier.pin(train.join(dirty, Seq("doc_id"), "left_anti"))
        // 5. MIXTURE: rebalance surviving docs to the target lang weights
        val mixed = graft.ops.Sampling.mixture(decon, "lang",
          Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1, "zh" -> 0.1))
        // 6. SPLIT: deterministic 80/10/10, rolled up per (split, lang)
        graft.ops.Sampling.split(mixed)
          .groupBy("split", "lang")
          .agg(count("*").cast("long").as("n_docs"),
            sum("n_chars").cast("long").as("sum_chars"))
      },
      s"""WITH gw AS (SELECT doc_id, text, string_split($NORM, ' ') AS ws FROM documents),
         |gm AS (SELECT doc_id, len(ws) AS n_words,
         |  round(CAST(list_aggregate(list_transform(ws, x -> len(x)), 'sum') AS DOUBLE) / len(ws), 6) AS mwl,
         |  len(list_filter(ws, x -> list_contains($stops, x))) AS nsh,
         |  round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws), 6) AS af,
         |  round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(ws), 6) AS sr
         |  FROM gw),
         |gate AS (SELECT doc_id FROM gm WHERE (n_words BETWEEN 50 AND 100000)
         |  AND (mwl BETWEEN 3.0 AND 10.0) AND nsh >= 2 AND af >= 0.8 AND sr <= 0.1),
         |lined AS (SELECT d.doc_id,
         |  string_split(regexp_replace(d.text, ' (the|a) ', chr(10), 'g'), chr(10)) AS lines
         |  FROM documents d JOIN gate USING (doc_id)),
         |ex AS (SELECT doc_id, unnest(lines) AS line, generate_subscripts(lines, 1) AS i FROM lined),
         |heavy AS (SELECT line FROM ex GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
         |keptl AS (SELECT e.doc_id, e.line, e.i FROM ex e
         |  LEFT JOIN heavy h ON e.line = h.line WHERE h.line IS NULL),
         |cln AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text FROM keptl GROUP BY 1),
         |fdocs AS (SELECT doc_id, $NORM AS norm FROM cln),
         |ftoks AS (SELECT doc_id, string_split(norm, ' ') AS w FROM fdocs),
         |fwrds AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM ftoks),
         |fg3 AS (SELECT doc_id,
         |  word || ' ' || lead(word,1) OVER win || ' ' || lead(word,2) OVER win AS gram
         |  FROM fwrds WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |fsh AS (SELECT DISTINCT doc_id, gram FROM fg3
         |  WHERE gram IS NOT NULL AND len(string_split(gram, ' ')) = 3),
         |fcnt AS (SELECT doc_id, count(*) AS n_grams FROM fsh GROUP BY 1),
         |fdf AS (SELECT gram, count(*) AS df FROM fsh GROUP BY 1),
         |fcsh AS (SELECT fsh.doc_id, fsh.gram FROM fsh
         |  JOIN fdf ON fsh.gram = fdf.gram AND fdf.df BETWEEN 2 AND 20),
         |fcand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM fcsh a JOIN fcsh b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |fpairs AS (SELECT c.a, c.b, count(*) AS common
         |  FROM fcand c JOIN fsh sa ON sa.doc_id = c.a
         |  JOIN fsh sb ON sb.doc_id = c.b AND sb.gram = sa.gram GROUP BY 1, 2),
         |losers AS (SELECT DISTINCT fpairs.b AS doc_id FROM fpairs
         |  JOIN fcnt ca ON fpairs.a = ca.doc_id
         |  JOIN fcnt cb ON fpairs.b = cb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (ca.n_grams + cb.n_grams - common) >= 0.5),
         |fuzzy AS (SELECT c.doc_id, c.text FROM cln c LEFT JOIN losers l USING (doc_id)
         |  WHERE l.doc_id IS NULL),
         |bkt AS (SELECT doc_id, text, $bucket AS b FROM fuzzy),
         |dtoks AS (SELECT doc_id, b, string_split($NORM, ' ') AS w FROM bkt),
         |dwrds AS (SELECT doc_id, b, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM dtoks),
         |dg5 AS (SELECT doc_id, b,
         |  word || ' ' || lead(word,1) OVER win || ' ' || lead(word,2) OVER win
         |    || ' ' || lead(word,3) OVER win || ' ' || lead(word,4) OVER win AS gram
         |  FROM dwrds WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |dsh AS (SELECT DISTINCT doc_id, b, gram FROM dg5
         |  WHERE gram IS NOT NULL AND len(string_split(gram, ' ')) = 5),
         |ev AS (SELECT DISTINCT gram FROM dsh WHERE b < 10),
         |dirty AS (SELECT DISTINCT t.doc_id FROM dsh t JOIN ev ON t.gram = ev.gram WHERE t.b >= 10),
         |decon AS (SELECT k.doc_id FROM bkt k LEFT JOIN dirty x USING (doc_id)
         |  WHERE k.b >= 10 AND x.doc_id IS NULL),
         |dd AS (SELECT d.doc_id, d.lang, d.n_chars FROM documents d JOIN decon USING (doc_id)),
         |c AS (SELECT lang, count(*) AS n FROM dd GROUP BY 1),
         |cw AS (SELECT lang, n, CAST($duckW AS DOUBLE) AS w FROM c),
         |cap AS (SELECT min(CAST(n AS DOUBLE) / w) AS cap FROM cw WHERE w > 0),
         |r AS (SELECT lang, round(least(CAST(1.0 AS DOUBLE), w * cap / n), 6) AS rate
         |  FROM cw CROSS JOIN cap WHERE w > 0),
         |mixed AS (SELECT dd.doc_id, dd.lang, dd.n_chars FROM dd JOIN r USING (lang)
         |  WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |    % 1000000 AS DOUBLE) / 1000000 < rate)
         |SELECT CASE WHEN $bucket < 80 THEN 'train'
         |            WHEN $bucket < 90 THEN 'valid'
         |            ELSE 'test' END AS split,
         |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM mixed GROUP BY 1, 2""".stripMargin)
  }

  // ---- quantization -------------------------------------------------------

  /** int8 scalar quantization round-trip summary: header (min/max/scale) +
    * exact integer code sum pins every quantized value. */
  val quantizeInt8: OQ = OQ.df("emb_quantize_int8",
    (s, _) => graft.ops.Quantize.int8Summary(s.table("embeddings")),
    """WITH q AS (SELECT vec_id,
      |  CAST(list_min(embedding) AS DOUBLE) AS qmin,
      |  CAST(list_max(embedding) AS DOUBLE) AS qmax,
      |  (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS sc,
      |  embedding FROM embeddings)
      |SELECT vec_id, qmin, qmax, round(sc, 6) AS scale,
      |  CAST(list_sum(list_transform(embedding, x -> CASE WHEN sc = 0 THEN 0
      |    ELSE CAST(round((CAST(x AS DOUBLE) - qmin) / sc, 0) AS INT) END)) AS BIGINT) AS qsum,
      |  CAST(len(embedding) AS BIGINT) AS dims
      |FROM q""".stripMargin)

  /** Native codegen cosine Expression ([[graft.functions.CosineSim]]) on
    * adjacent-id vector pairs; the oracle reuses the exploded sims CTE. */
  val cosineExpr: OQ = OQ.df("emb_cosine_expr",
    (s, _) => {
      org.apache.spark.sql.graft.SqlBridge.registerFunction(s, "cosine_sim",
        exprs => graft.functions.CosineSim(exprs(0), exprs(1)))
      val e1 = s.table("embeddings").select(col("vec_id").as("a"), col("embedding").as("ea"))
      val e2 = s.table("embeddings").select(col("vec_id").as("b"), col("embedding").as("eb"))
      e1.join(e2, col("b") === col("a") + 1)
        .selectExpr("a", "b", "round(cosine_sim(ea, eb), 6) AS cos")
    },
    s"""$duckSims
       |SELECT a, b, cos FROM sims WHERE b = a + 1""".stripMargin)

  /** L2 normalization summary: rounded norm + unit-vector element checksum
    * in shared double-precision left-fold arithmetic. */
  val embNormalize: OQ = OQ.df("emb_l2_normalize",
    (s, _) => graft.ops.Quantize.l2NormalizeSummary(s.table("embeddings")),
    """WITH n AS (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings)
      |SELECT vec_id, round(nrm, 6) AS l2_norm,
      |  CASE WHEN nrm = 0 THEN 0.0 ELSE
      |    round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)), 6)
      |  END AS unit_sum,
      |  CAST(len(embedding) AS BIGINT) AS dims
      |FROM n""".stripMargin)

  /** Matryoshka 16-dim truncation summary: prefix norm + the unit vector's
    * element checksum, both sides summing FLOAT-rounded components in a
    * double left-fold so the numbers are bit-comparable (the float re-cast
    * is part of the operator's contract — it is what the index stores). */
  /** JL random projection — deterministic ±1 sign matrix from md5("i:j")
    * nibble parity, so the oracle reconstructs the identical projection in
    * SQL and replays every component: the whole dIn × dOut arithmetic is
    * pinned, not a summary. */
  val randomProjQ: OQ = OQ.df("emb_random_projection",
    (s, _) => graft.ops.Quantize.randomProjection(s.table("embeddings"), dOut = 16),
    """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
      |    generate_subscripts(embedding, 1) - 1 AS i
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |js AS (SELECT unnest(generate_series(0, 15)) AS j),
      |signs AS (SELECT i, j,
      |    CASE WHEN substr(md5(i || ':' || j), 1, 1) <= '7' THEN 1.0 ELSE -1.0 END AS s
      |  FROM (SELECT DISTINCT i FROM el), js)
      |SELECT el.vec_id, signs.j,
      |  round(sum(el.e * signs.s) / sqrt(16.0), 6) AS p
      |FROM el JOIN signs ON el.i = signs.i
      |GROUP BY 1, 2""".stripMargin)

  val matryoshkaQ: OQ = OQ.df("emb_matryoshka",
    (s, _) => graft.ops.Quantize.matryoshka(s.table("embeddings"), dims = 16)
      .select(col("vec_id"), round(col("prefix_norm"), 6).as("prefix_norm"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double")), 6).as("unit_sum"),
        col("dims")),
    """WITH p AS (SELECT vec_id, list_slice(embedding, 1, 16) AS pre
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |n AS (SELECT vec_id, pre,
      |  sqrt(coalesce(list_sum(list_transform(pre,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0)) AS nrm FROM p)
      |SELECT vec_id, round(nrm, 6) AS prefix_norm,
      |  CASE WHEN nrm = 0 THEN round(coalesce(list_sum(list_transform(pre,
      |      x -> CAST(x AS DOUBLE))), 0.0), 6)
      |    ELSE round(list_sum(list_transform(pre,
      |      x -> CAST(CAST(CAST(x AS DOUBLE) / nrm AS REAL) AS DOUBLE))), 6)
      |  END AS unit_sum,
      |  CAST(len(pre) AS BIGINT) AS dims
      |FROM n""".stripMargin)

  /** Per-label centroids, floor-quantized to 1e-4 and summed as exact
    * BIGINTs so the means are engine-exact (float→decimal casts round
    * differently across engines on boundary values; floor on doubles does
    * not). DuckDB replays via unnest + generate_subscripts. */
  val centroidQ: OQ = OQ.df("emb_centroid_by_label",
    (s, _) => graft.ops.Quantize.centroidByLabel(s.table("embeddings")),
    """WITH x AS (SELECT label, unnest(embedding) AS val,
      |    generate_subscripts(embedding, 1) AS ord
      |  FROM embeddings WHERE embedding IS NOT NULL)
      |SELECT label, CAST(ord - 1 AS BIGINT) AS dim, count(*) AS n,
      |  round(CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 10000) AS BIGINT)) AS DOUBLE)
      |    / 10000.0 / count(*), 6) AS mean
      |FROM x GROUP BY 1, 2""".stripMargin)

  /** Centroid-distance outliers ([[graft.ops.Quantize.centroidOutliers]]):
    * per-vector distance to its own label's exact centroid, z-scored per
    * label — the embedding mislabel/noise screen. DECIMAL-routed distance
    * sums keep the composition engine-exact end to end. */
  val embOutliersQ: OQ = OQ.df("emb_centroid_outliers",
    (s, _) => graft.ops.Quantize.centroidOutliers(s.table("embeddings")),
    """WITH el AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS e,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim
      |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
      |cent AS (SELECT label, dim,
      |    round(CAST(sum(CAST(floor(e * 10000) AS BIGINT)) AS DOUBLE)
      |      / 10000.0 / count(*), 6) AS mean
      |  FROM el GROUP BY 1, 2),
      |d AS (SELECT el.vec_id, el.label,
      |    round(sqrt(CAST(sum(CAST((e - mean) * (e - mean) AS DECIMAL(28,12))) AS DOUBLE)), 6) AS dist
      |  FROM el JOIN cent ON el.label = cent.label AND el.dim = cent.dim
      |  GROUP BY 1, 2),
      |st AS (SELECT label, avg(dist) AS mu, stddev_samp(dist) AS sigma
      |  FROM d GROUP BY 1)
      |SELECT d.vec_id, d.label, d.dist, round(mu, 6) AS label_mean_dist,
      |  CASE WHEN sigma > 0 THEN round((dist - mu) / sigma, 6) END AS dist_z
      |FROM d JOIN st USING (label)""".stripMargin)

  // ---- dedup family -------------------------------------------------------

  val dedupExact: OQ = OQ.df("dedup_exact",
    (s, _) => Dedup.exact(s.table("documents")),
    s"""SELECT md5($NORM) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_docs
       |FROM documents GROUP BY 1""".stripMargin)

  /** Keep-best canonical selection: same clusters as dedup_exact, but the
    * kept copy maximizes n_chars (tie: smallest id). Oracle uses the window
    * form; the Spark side is the aggregate argmax — equal output proves the
    * associative argmax ≡ the rank-1 row. */
  val dedupKeepBest: OQ = OQ.df("dedup_exact_keep_best",
    // packedArgmax: n_chars is a text length (≥ 0, < 2³¹ by any realistic
    // document size) and doc_id a non-negative synthetic long — the bounds
    // the packed-long HashAggregate path asserts per row
    (s, _) => Dedup.exactKeepBest(s.table("documents"), packedArgmax = true)
      .selectExpr("content_hash", "keep_id",
        "CAST(keep_quality AS BIGINT) AS keep_quality", "n_docs"),
    s"""WITH h AS (SELECT doc_id, n_chars, md5($NORM) AS content_hash FROM documents),
       |r AS (SELECT content_hash, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY content_hash ORDER BY n_chars DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY content_hash) AS n_docs
       |  FROM h)
       |SELECT content_hash, doc_id AS keep_id, n_chars AS keep_quality, n_docs
       |FROM r WHERE rn = 1""".stripMargin)

  /** DuckDB 3-gram shingle CTEs ending at `sh` = (doc_id, gram) distinct and
    * `counts` = (doc_id, n_grams). */
  private val duckShCtes =
    s"""docs AS (SELECT doc_id, $NORM AS norm FROM documents),
       |toks AS (SELECT doc_id, string_split(norm, ' ') AS w FROM docs),
       |wrds AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM toks),
       |grams3 AS (SELECT doc_id,
       |  word || ' ' || lead(word,1) OVER win || ' ' || lead(word,2) OVER win AS gram
       |  FROM wrds WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |sh AS (SELECT DISTINCT doc_id, gram FROM grams3
       |  WHERE gram IS NOT NULL AND len(string_split(gram, ' ')) = 3),
       |counts AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY 1)""".stripMargin

  /** Shared DuckDB CTE prologue ending at `j` = (a, b, common, na, nb). */
  private val duckJaccardCtes =
    s"""$duckShCtes,
       |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
       |  FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |j AS (SELECT pairs.a, pairs.b, common, ca.n_grams AS na, cb.n_grams AS nb
       |  FROM pairs JOIN counts ca ON pairs.a = ca.doc_id JOIN counts cb ON pairs.b = cb.doc_id)""".stripMargin

  /** DuckDB 3-gram shingle Jaccard pairs ≥ threshold. */
  private def duckJaccard(threshold: Double) =
    s"""WITH $duckJaccardCtes
       |SELECT a, b, round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
       |FROM j WHERE CAST(common AS DOUBLE) / (na + nb - common) >= $threshold""".stripMargin

  /** Capped-candidate CTE prologue ending at `j` = (a, b, common, na, nb):
    * df-capped candidate generation (grams in >20 docs never generate
    * candidates), exact re-verification over the FULL gram sets — the
    * independent SQL replay of [[Dedup.jaccardPairs]]'s capped semantics. */
  private val duckCappedJaccardCtes =
    s"""$duckShCtes,
       |gdf AS (SELECT gram, count(*) AS df FROM sh GROUP BY 1),
       |csh AS (SELECT sh.doc_id, sh.gram FROM sh
       |  JOIN gdf ON sh.gram = gdf.gram AND gdf.df BETWEEN 2 AND 20),
       |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM csh a JOIN csh b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |pairs AS (SELECT c.a, c.b, count(*) AS common
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.a
       |  JOIN sh sb ON sb.doc_id = c.b AND sb.gram = sa.gram GROUP BY 1, 2),
       |j AS (SELECT pairs.a, pairs.b, common, ca.n_grams AS na, cb.n_grams AS nb
       |  FROM pairs JOIN counts ca ON pairs.a = ca.doc_id
       |  JOIN counts cb ON pairs.b = cb.doc_id)""".stripMargin

  /** THE n-gram Jaccard dedup — the SCALE-SAFE df-capped form is the
    * headline (r4 verdict task #1): shingles appearing in more than
    * `maxDocFreq` documents are dropped from candidate generation (bounding
    * the per-gram candidate blowup at d², the shape that melts down on
    * boilerplate-heavy corpora), then surviving pairs are re-verified with
    * exact Jaccard over the FULL gram sets. Oracle replays the identical
    * semantics: df-capped candidate join, exact re-verification. */
  val ngramJaccard: OQ = OQ.df("dedup_ngram_jaccard",
    (s, _) => Dedup.jaccardPairs(s.table("documents"), n = 3, threshold = 0.5,
      maxDocFreq = 20),
    s"""WITH $duckCappedJaccardCtes
       |SELECT a, b, round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
       |FROM j WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.5""".stripMargin)

  /** PREFIX-FILTERED capped Jaccard — same semantics (and therefore the
    * SAME oracle) as `dedup_ngram_jaccard`: the heavy-corrected prefix
    * filter is a lossless candidate prune, and every candidate verifies
    * over its full gram sets. The variant that bounds candidate-stage
    * shuffle volume on clique-heavy corpora (sf10 probe: 86.7M vs 156.8M
    * shuffle rows, 31.7 s vs 49.6 s same-run); kept as a separate key so
    * the oracle pins the equivalence every round. */
  val ngramJaccardPrefix: OQ = OQ.df("dedup_ngram_jaccard_prefix",
    (s, _) => Dedup.jaccardPairsPrefix(s.table("documents"), n = 3,
      threshold = 0.5, maxDocFreq = 20),
    s"""WITH $duckCappedJaccardCtes
       |SELECT a, b, round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
       |FROM j WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.5""".stripMargin)

  /** Asymmetric CONTAINMENT pairs — common / min(na, nb), the second dedup
    * axis that catches subset duplicates (small doc quoted inside a large
    * page) symmetric Jaccard structurally misses at disparate sizes. Same
    * capped candidate contract as `dedup_ngram_jaccard` (≥1 shared
    * under-cap gram), score exact over the FULL gram sets — the oracle
    * reuses the capped CTE prologue with the containment scoring. */
  val containmentPairsQ: OQ = OQ.df("dedup_containment_pairs",
    (s, _) => Dedup.containmentPairs(s.table("documents"), n = 3,
      threshold = 0.8, maxDocFreq = 20),
    s"""WITH $duckCappedJaccardCtes
       |SELECT a, b, round(CAST(common AS DOUBLE) / least(na, nb), 6) AS containment
       |FROM j WHERE CAST(common AS DOUBLE) / least(na, nb) >= 0.8""".stripMargin)

  /** PREFIX-FILTERED containment — same semantics (and the SAME oracle) as
    * `dedup_containment_pairs`: the asymmetric smaller-side prefix is a
    * lossless candidate prune under the capped contract, and every
    * candidate verifies over its full gram sets. The scale form for
    * subset-dup sweeps on clique-heavy corpora; a separate key so the
    * oracle pins the equivalence every round. */
  val containmentPairsPrefixQ: OQ = OQ.df("dedup_containment_pairs_prefix",
    (s, _) => Dedup.containmentPairsPrefix(s.table("documents"), n = 3,
      threshold = 0.8, maxDocFreq = 20),
    containmentPairsQ.oracle.get)

  /** Lexical diversity: per-doc word entropy + type-token ratio; both
    * engines share the normalization, the word filter, and the
    * ln(n) − Σ c·ln(c)/n form. */
  val lexDiversityQ: OQ = OQ.df("text_lexical_diversity",
    (s, _) => TextAnalysis.lexicalDiversity(s.table("documents")),
    s"""WITH w AS (SELECT doc_id, unnest(string_split($NORM, ' ')) AS word
       |  FROM documents),
       |c AS (SELECT doc_id, word, count(*) AS c FROM w WHERE word <> ''
       |  GROUP BY 1, 2),
       |a AS (SELECT doc_id, sum(c) AS n_words, count(*) AS n_types,
       |    sum(c * ln(c)) AS s FROM c GROUP BY 1)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_types AS BIGINT) AS n_types,
       |  round(ln(CAST(n_words AS DOUBLE)) - s / n_words, 6) AS entropy,
       |  round(CAST(n_types AS DOUBLE) / n_words, 6) AS ttr
       |FROM a""".stripMargin)

  /** Corpus novelty: fraction of each doc's distinct 3-grams with corpus
    * df = 1. Docs with no full 3-gram are absent on both sides (inner-join
    * semantics mirror the empty gram stream). */
  val noveltyQ: OQ = OQ.df("text_novelty",
    (s, _) => TextAnalysis.novelty(s.table("documents"))
      .select(col("doc_id"), col("novel_grams"), col("n_grams"), col("novelty")),
    s"""WITH $duckShCtes,
       |gdf AS (SELECT gram, count(*) AS df FROM sh GROUP BY 1),
       |nov AS (SELECT sh.doc_id,
       |    count(*) FILTER (WHERE gdf.df = 1) AS novel, count(*) AS n
       |  FROM sh JOIN gdf ON sh.gram = gdf.gram GROUP BY 1)
       |SELECT doc_id, CAST(novel AS BIGINT) AS novel_grams,
       |  CAST(n AS BIGINT) AS n_grams,
       |  round(CAST(novel AS DOUBLE) / n, 6) AS novelty
       |FROM nov""".stripMargin)

  /** Training-window chunking oracle: 64-token windows advancing by 48
    * (16-token overlap), short tail kept, empty texts dropped — DuckDB
    * replays via generate_series + list_slice. */
  val textChunk: OQ = OQ.df("text_chunk",
    (s, _) => TextAnalysis.chunk(s.table("documents"),
      chunkTokens = 64, overlapTokens = 16),
    s"""WITH d AS (SELECT doc_id, $NORM AS norm FROM documents),
       |toks AS (SELECT doc_id, string_split(norm, ' ') AS w FROM d
       |  WHERE coalesce(norm, '') <> ''),
       |st AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 48)) AS s
       |  FROM toks)
       |SELECT doc_id, CAST(s / 48 AS INT) AS chunk_id,
       |  array_to_string(list_slice(w, s + 1, s + 64), ' ') AS chunk_text,
       |  CAST(len(list_slice(w, s + 1, s + 64)) AS BIGINT) AS n_tokens
       |FROM st""".stripMargin)

  /** Sequence-packing oracle: 512-token training windows over the id-ordered
    * document stream; DuckDB replays with a single global window cumsum
    * (fine at oracle scale — the Spark side is the bucketed two-phase form
    * that survives 100 TB). */
  val textPack: OQ = OQ.df("text_pack_sequences",
    (s, _) => TextAnalysis.packSequences(
      TextAnalysis.tokenCounts(s.table("documents"))
        .select(col("doc_id"), col("ws_tokens").cast("long").as("n_tokens")),
      seqTokens = 512),
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(string_split($NORM, ' ')) AS BIGINT) AS n FROM documents),
       |c AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t)
       |SELECT doc_id, CAST(floor(cum / 512.0) AS INT) AS seq_id,
       |  CAST(cum % 512 AS BIGINT) AS seq_offset, n AS n_tokens FROM c""".stripMargin)

  /** INCREMENTAL dedup oracle: a 10% "incoming batch" (doc_id % 10 = 3)
    * deduped against the other 90% as the reference corpus — one capped
    * corpus aggregation + one gram join per batch instead of a corpus
    * self-join. The oracle replays the identical semantics: corpus-side df
    * cap, cross join on shared eligible grams, exact full-set verify. */
  val dedupIncremental: OQ = OQ.df("dedup_incremental",
    (s, _) => {
      val docs = s.table("documents")
      Dedup.jaccardAgainst(
        docs.where(col("doc_id") % 10 === 3),
        docs.where(col("doc_id") % 10 =!= 3),
        n = 3, threshold = 0.5, maxDocFreq = 20)
    },
    s"""WITH $duckShCtes,
       |newsh AS (SELECT * FROM sh WHERE doc_id % 10 = 3),
       |corsh AS (SELECT * FROM sh WHERE doc_id % 10 <> 3),
       |gdf AS (SELECT gram, count(*) AS df FROM corsh GROUP BY 1),
       |elig AS (SELECT gram FROM gdf WHERE df BETWEEN 1 AND 20),
       |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM newsh a JOIN corsh b ON a.gram = b.gram
       |  JOIN elig g ON g.gram = a.gram),
       |pairs AS (SELECT c.a, c.b, count(*) AS common FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.a
       |  JOIN sh sb ON sb.doc_id = c.b AND sb.gram = sa.gram GROUP BY 1, 2),
       |j AS (SELECT pairs.a, pairs.b, common, ca.n_grams AS na, cb.n_grams AS nb
       |  FROM pairs JOIN counts ca ON pairs.a = ca.doc_id
       |  JOIN counts cb ON pairs.b = cb.doc_id)
       |SELECT a, b, round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
       |FROM j WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.5""".stripMargin)

  /** PREFIX-FILTERED incremental dedup — same semantics (and the SAME
    * oracle) as `dedup_incremental`: the two-sided heavy-corrected prefix
    * filter prunes the batch×corpus candidate join losslessly, every
    * candidate verifies over full gram sets. The scale form for the
    * recurring nightly-crawl shape; a separate key so the oracle pins the
    * equivalence every round. */
  val dedupIncrementalPrefix: OQ = OQ.df("dedup_incremental_prefix",
    (s, _) => {
      val docs = s.table("documents")
      Dedup.jaccardAgainstPrefix(
        docs.where(col("doc_id") % 10 === 3),
        docs.where(col("doc_id") % 10 =!= 3),
        n = 3, threshold = 0.5, maxDocFreq = 20)
    },
    dedupIncremental.oracle.get)

  /** Explicit opt-in to the UNCAPPED exact self-join (full recall including
    * pairs whose only shared grams are ubiquitous) — quadratic in per-gram
    * document frequency, so NOT the form to run on a boilerplate-heavy
    * corpus at scale; kept as the oracle-parity baseline. */
  val ngramJaccardUncapped: OQ = OQ.df("dedup_ngram_jaccard_exact_uncapped",
    (s, _) => Dedup.jaccardPairs(s.table("documents"), n = 3, threshold = 0.5),
    duckJaccard(0.5))

  /** MinHash+LSH (128 hashes, 64 bands × 2) with exact re-verification — the
    * verified output equals brute-force Jaccard (recall loss at j≥0.5 with
    * these parameters is < 1e-8), so the oracle IS the exact result. */
  val minhashLsh: OQ = OQ.df("dedup_minhash_lsh",
    (s, _) => Dedup.minhashLsh(s.table("documents"),
      n = 3, numHashes = 128, rowsPerBand = 2, threshold = 0.5),
    duckJaccard(0.5))

  /** Connected components over the Jaccard≥0.5 edge set: every document
    * labeled with its canonical (smallest reachable) id. Spark = distributed
    * min-label propagation with pointer jumping; oracle = recursive CTE
    * transitive closure (fine at oracle scale; the Spark side is the one
    * that has to survive 100 TB). */
  val dedupCluster: OQ = OQ.df("dedup_cluster",
    (s, _) => {
      val docs = s.table("documents")
      // edges from the minhash+LSH generator (r5 verdict task #3): its
      // verified output equals brute-force Jaccard at these parameters
      // (recall loss < 1e-8), it is the cheaper edge feed (banded buckets
      // instead of the capped gram self-join), and the skew-capped
      // `maxBucket` variant is a drop-in when the corpus is
      // boilerplate-heavy. The oracle derives the same edge set exactly.
      Dedup.clusters(docs, Dedup.minhashLsh(docs,
        n = 3, numHashes = 128, rowsPerBand = 2, threshold = 0.5))
    },
    s"""WITH RECURSIVE $duckJaccardCtes,
       |edges AS (SELECT a, b FROM j
       |  WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.5),
       |und AS (SELECT a AS x, b AS y FROM edges UNION SELECT b AS x, a AS y FROM edges),
       |reach(x, y) AS (SELECT x, y FROM und
       |  UNION SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
       |m AS (SELECT x, min(y) AS mn FROM reach GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(least(d.doc_id, coalesce(m.mn, d.doc_id)) AS BIGINT) AS cluster_id
       |FROM documents d LEFT JOIN m ON d.doc_id = m.x""".stripMargin)

  /** Incremental containment: the 10%-batch docs scored for subsumption
    * against the 90% corpus — common / min(na, nb) ≥ 0.8 with at least one
    * shared under-cap corpus gram; exact over full gram sets. */
  val dedupContainmentIncr: OQ = OQ.df("dedup_containment_incremental",
    (s, _) => {
      val docs = s.table("documents")
      Dedup.containmentAgainst(
        docs.where(col("doc_id") % 10 === 3),
        docs.where(col("doc_id") % 10 =!= 3),
        n = 3, threshold = 0.8, maxDocFreq = 20)
    },
    s"""WITH $duckShCtes,
       |newsh AS (SELECT * FROM sh WHERE doc_id % 10 = 3),
       |corsh AS (SELECT * FROM sh WHERE doc_id % 10 <> 3),
       |gdf AS (SELECT gram, count(*) AS df FROM corsh GROUP BY 1),
       |elig AS (SELECT gram FROM gdf WHERE df BETWEEN 1 AND 20),
       |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM newsh a JOIN corsh b ON a.gram = b.gram
       |  JOIN elig g ON g.gram = a.gram),
       |pairs AS (SELECT c.a, c.b, count(*) AS common FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.a
       |  JOIN sh sb ON sb.doc_id = c.b AND sb.gram = sa.gram GROUP BY 1, 2),
       |j AS (SELECT pairs.a, pairs.b, common, ca.n_grams AS na, cb.n_grams AS nb
       |  FROM pairs JOIN counts ca ON pairs.a = ca.doc_id
       |  JOIN counts cb ON pairs.b = cb.doc_id)
       |SELECT a, b, round(CAST(common AS DOUBLE) / least(na, nb), 6) AS containment
       |FROM j WHERE CAST(common AS DOUBLE) / least(na, nb) >= 0.8""".stripMargin)

  /** PREFIX-FILTERED incremental containment — same semantics (and the SAME
    * oracle) as `dedup_containment_incremental`: the two-sided asymmetric
    * prefix prunes the batch×corpus candidate join losslessly; exact
    * full-set verify per candidate. */
  val dedupContainmentIncrPrefix: OQ = OQ.df("dedup_containment_incremental_prefix",
    (s, _) => {
      val docs = s.table("documents")
      Dedup.containmentAgainstPrefix(
        docs.where(col("doc_id") % 10 === 3),
        docs.where(col("doc_id") % 10 =!= 3),
        n = 3, threshold = 0.8, maxDocFreq = 20)
    },
    dedupContainmentIncr.oracle.get)

  /** Canonical selection per near-dup cluster: dedup_cluster's components,
    * each keeping the max-n_chars doc (tie: smallest id). Spark = the
    * associative min(struct) argmax over the labeled corpus (no window);
    * oracle = the recursive-CTE closure + rank-1 window row — equal output
    * proves both the component labels and the argmax. */
  val dedupClusterKeepBest: OQ = OQ.df("dedup_cluster_keep_best",
    (s, _) => {
      val docs = s.table("documents")
      Dedup.clustersKeepBest(docs, Dedup.minhashLsh(docs,
          n = 3, numHashes = 128, rowsPerBand = 2, threshold = 0.5),
          packedArgmax = true)
        .selectExpr("cluster_id", "keep_id",
          "CAST(keep_quality AS BIGINT) AS keep_quality", "n_docs")
    },
    s"""WITH RECURSIVE $duckJaccardCtes,
       |edges AS (SELECT a, b FROM j
       |  WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.5),
       |und AS (SELECT a AS x, b AS y FROM edges UNION SELECT b AS x, a AS y FROM edges),
       |reach(x, y) AS (SELECT x, y FROM und
       |  UNION SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
       |m AS (SELECT x, min(y) AS mn FROM reach GROUP BY 1),
       |lab AS (SELECT d.doc_id, d.n_chars,
       |    CAST(least(d.doc_id, coalesce(m.mn, d.doc_id)) AS BIGINT) AS cluster_id
       |  FROM documents d LEFT JOIN m ON d.doc_id = m.x),
       |r AS (SELECT cluster_id, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_docs
       |  FROM lab)
       |SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_quality, n_docs
       |FROM r WHERE rn = 1""".stripMargin)

  /** DuckDB replay of the 60-bit word-set simhash, ending at
    * `sig` = (doc_id, simhash) — shared by the signature key and the
    * banded hamming join's oracle. */
  private val duckSimhashCtes =
    s"""docs AS (SELECT doc_id, $NORM AS norm FROM documents),
       |w AS (SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS word FROM docs),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hv FROM w),
       |bits AS (SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM h, (SELECT unnest(generate_series(0, 59)) AS b) bt GROUP BY 1, 2),
       |sig AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1)""".stripMargin

  val simhash: OQ = OQ.df("dedup_simhash",
    (s, _) => Dedup.simhash(s.table("documents")),
    s"""WITH $duckSimhashCtes
       |SELECT doc_id, simhash FROM sig""".stripMargin)

  /** Banded hamming near-dup join, ORACLE-KEYED (r9 verdict #2): with no
    * bucket cap the pigeonhole construction is EXACT — every pair within
    * maxHamming shares at least one of the 8 bands — so the oracle is the
    * brute-force xor/bit_count pair join over the same replayed
    * signatures. The capped production configuration (identical-signature
    * cliques dropped from candidate generation) stays witness-tested in
    * DataOpsSpec. */
  val simhashHamming: OQ = OQ.df("dedup_simhash_hamming",
    (s, _) => Dedup.hammingPairs(Dedup.simhash(s.table("documents")),
      maxHamming = 7, bands = 8),
    s"""WITH $duckSimhashCtes
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 7""".stripMargin)

  /** Bloom-guarded membership dedup, ORACLE-KEYED in exact mode (r9
    * verdict #2): Bloom negatives are definitely novel and positives are
    * rescued through the fingerprint anti-join, so the output is
    * definitionally the plain anti-join's — the filter only shrinks the
    * join's probe side. The oracle replays that anti-join; fpp/loss
    * bounds for the approximate mode stay witness-tested in DataOpsSpec. */
  val bloomDedupExact: OQ = OQ.df("dedup_bloom_guarded",
    (s, _) => Dedup.bloomDedupAgainstCorpus(
      s.table("documents"),
      s.table("documents").where(col("doc_id") % 2 === 0), fpp = 0.01)
      .select(col("doc_id")),
    s"""WITH nf AS (SELECT doc_id, md5($NORM) AS fp FROM documents),
       |cf AS (SELECT DISTINCT fp FROM nf WHERE doc_id % 2 = 0 AND fp IS NOT NULL)
       |SELECT n.doc_id FROM nf n LEFT JOIN cf c ON n.fp = c.fp
       |WHERE c.fp IS NULL""".stripMargin)

  // ---- similarity search --------------------------------------------------

  val embeddingNearDup: OQ = OQ.df("dedup_embedding_cosine",
    (s, _) => Similarity.cosineNearDup(s.table("embeddings"), threshold = 0.45),
    s"""$duckSims
       |SELECT a, b, cos FROM sims WHERE a < b AND cos >= 0.45""".stripMargin)

  /** Embedding-space decontamination ([[Similarity.contaminationAgainst]]):
    * the label-0 vectors stand in for a benchmark suite, everything else is
    * the training corpus; every corpus vector within cosine 0.4 of ANY eval
    * vector is flagged with its best match. Broadcast eval + one streaming
    * corpus scan — the oracle recomputes the full cross bipartite argmax. */
  val contaminationEmb: OQ = OQ.df("dedup_contamination_embedding",
    (s, _) => {
      val emb = s.table("embeddings")
      Similarity.contaminationAgainst(
        emb.where(col("label") =!= 0), emb.where(col("label") === 0),
        threshold = 0.4)
    },
    """WITH el AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS e,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |norms AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM el GROUP BY 1),
      |dots AS (SELECT a.vec_id AS a, b.vec_id AS b, sum(a.e * b.e) AS dot
      |  FROM el a JOIN el b ON a.i = b.i
      |  WHERE a.label <> 0 AND b.label = 0 GROUP BY 1, 2),
      |sims AS (SELECT dots.a, dots.b, round(dot / (na.nrm * nb.nrm), 6) AS cos
      |  FROM dots JOIN norms na ON dots.a = na.vec_id
      |            JOIN norms nb ON dots.b = nb.vec_id),
      |best AS (SELECT a, b, cos,
      |    row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rn FROM sims)
      |SELECT a AS vec_id, b AS eval_id, cos FROM best
      |WHERE rn = 1 AND cos >= 0.4""".stripMargin)

  val annTopK: OQ = OQ.df("ann_cosine_topk",
    (s, _) => Similarity.cosineTopK(s.table("embeddings"), k = 10)
      .selectExpr("a", "b", "cos", "CAST(rank AS INT) AS rank"),
    s"""$duckSims
       |SELECT a, b, cos, CAST(rank AS INT) AS rank FROM (
       |  SELECT a, b, cos, row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rank
       |  FROM sims WHERE a <> b) r
       |WHERE rank <= 10""".stripMargin)

  /** Hard-negative mining — per anchor, the 5 most-similar vectors with a
    * DIFFERENT label (the contrastive-training negative selection). The
    * label filter runs inside the per-shard scoring loop, before any top-k;
    * the oracle replays the full labeled bipartite rank. */
  val hardNegativesQ: OQ = OQ.df("emb_hard_negatives",
    (s, _) => Similarity.hardNegatives(s.table("embeddings"), k = 5),
    s"""$duckSims,
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
       |  WHERE label IS NOT NULL),
       |r AS (SELECT s.a, la.label AS a_label, s.b, lb.label AS b_label, s.cos,
       |    row_number() OVER (PARTITION BY s.a ORDER BY s.cos DESC, s.b) AS rank
       |  FROM sims s JOIN lab la ON s.a = la.vec_id JOIN lab lb ON s.b = lb.vec_id
       |  WHERE s.a <> s.b AND la.label <> lb.label)
       |SELECT a, a_label, b, b_label, cos, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= 5""".stripMargin)

  /** Bipartite KNN join — the label-0 vectors (standing in for a query/
    * retrieval set) each fetch their 5 nearest label≠0 corpus vectors
    * through the blocked two-table grid; the oracle replays the full
    * bipartite rank. The scale path contaminationAgainst's broadcast form
    * can't take when BOTH sides are large. */
  private val duckKnnBipartite =
    """WITH el AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS e,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |norms AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM el GROUP BY 1),
      |dots AS (SELECT a.vec_id AS q, b.vec_id AS b, sum(a.e * b.e) AS dot
      |  FROM el a JOIN el b ON a.i = b.i
      |  WHERE a.label = 0 AND b.label <> 0 GROUP BY 1, 2),
      |sims AS (SELECT q, b, round(dot / (nq.nrm * nb.nrm), 6) AS cos
      |  FROM dots JOIN norms nq ON dots.q = nq.vec_id
      |            JOIN norms nb ON dots.b = nb.vec_id),
      |r AS (SELECT q, b, cos,
      |    row_number() OVER (PARTITION BY q ORDER BY cos DESC, b) AS rank
      |  FROM sims)
      |SELECT q, b, cos, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5""".stripMargin

  val knnJoinQ: OQ = OQ.df("ann_knn_join",
    (s, _) => {
      val emb = s.table("embeddings")
      Similarity.knnJoin(emb.where(col("label") === 0),
        emb.where(col("label") =!= 0), k = 5)
    },
    duckKnnBipartite)

  /** Exact squared-L2 top-k for a bounded query sample
    * ([[Similarity.bruteForceL2TopK]]) — the serving recall monitor's
    * ground-truth side over the ADC tier, which ranks by dist2 (a cosine
    * baseline would grade the wrong order on unnormalized vectors). One
    * corpus pass scores every sample query through a k-bounded heap;
    * rank on RAW distances, round6 on emission — the oracle replays the
    * full bipartite L2 rank in double arithmetic. */
  val bruteL2TopKQ: OQ = OQ.df("ann_brute_l2_topk",
    (s, _) => {
      val emb = s.table("embeddings")
      Similarity.bruteForceL2TopK(emb.where(col("label") === 0),
        emb.where(col("label") =!= 0), k = 5)
    },
    """WITH el AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS e,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |d AS (SELECT a.vec_id AS q, b.vec_id AS b,
      |    sum((a.e - b.e) * (a.e - b.e)) AS dist2
      |  FROM el a JOIN el b ON a.i = b.i
      |  WHERE a.label = 0 AND b.label <> 0 GROUP BY 1, 2),
      |r AS (SELECT q, b, dist2,
      |    row_number() OVER (PARTITION BY q ORDER BY dist2, b) AS rank FROM d)
      |SELECT q, b, round(dist2, 6) AS dist2, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5""".stripMargin)

  /** IVF-routed bipartite KNN exactness witness: probing every inverted
    * list (nprobe = nlist) provably covers the corpus — each corpus vector
    * lives in exactly one list and every list is searched — so the routed
    * plan (train → assign → probe-replicate → per-list top-k → bounded
    * merge window) must reproduce the exact bipartite rank bit-for-bit.
    * Shares [[knnJoinQ]]'s oracle SQL; the production nprobe ≪ nlist config
    * is recall-gated in DataOpsSpec and benched as `ann_knn_join_ivf`. */
  val knnJoinIvfExact: OQ = OQ.df("ann_knn_join_ivf_exact",
    (s, _) => {
      val emb = s.table("embeddings")
      Similarity.knnJoinIvf(emb.where(col("label") === 0),
        emb.where(col("label") =!= 0), k = 5, nlist = 16, nprobe = 16)
    },
    duckKnnBipartite)

  /** PERSISTED-INDEX routed KNN join pin: train the quantizer, materialize
    * BOTH artifacts — centroids AND the (list_id, id, vector) inverted
    * lists, bucketed by list_id — reload them, and run the routed join at
    * nprobe = nlist over the LOADED index. Parquet round-trips floats
    * bit-exactly and full probing provably covers the corpus, so the whole
    * save → load → route → bucketed-equi-join → bounded-top-k path must
    * reproduce the exact bipartite rank. This is what makes the IVF index a
    * real index: the corpus assignment pass is paid at BUILD time, not per
    * query batch (the r14 scale note), and the bucketed layout keeps the
    * corpus side exchange-free in every later routed join (PlanSpec pins
    * that plan shape). */
  val knnJoinIvfIndexed: OQ = OQ.df("ann_knn_join_ivf_indexed",
    (s, _) => {
      val emb = s.table("embeddings")
      val corpus = emb.where(col("label") =!= 0)
      val trained = Similarity.ivfCentroids(corpus, nlist = 16)
      Similarity.saveCentroids(s, trained, "g_knn_ivf_centroids")
      Similarity.saveIndex(s, corpus, trained, "g_knn_ivf_index")
      val cents = Similarity.loadCentroids(s, "g_knn_ivf_centroids")
      Similarity.knnJoinIvfIndexed(emb.where(col("label") === 0),
        Similarity.loadIndex(s, "g_knn_ivf_index"), cents, k = 5,
        nprobe = cents.length)
    },
    duckKnnBipartite)

  /** INCREMENTAL index maintenance pin — the nightly-crawl shape: build
    * the index on 90% of the corpus, [[Similarity.appendToIndex]] the
    * other 10% under the SAME pinned quantizer, and run the routed join at
    * nprobe = nlist over the combined artifact. A vector's list depends
    * only on the frozen centroids, so append ≡ full rebuild and the result
    * must still be the exact bipartite rank over the FULL corpus — pinning
    * that per-ingest-batch index cost is O(batch), never O(corpus). */
  val knnJoinIvfIndexAppend: OQ = OQ.df("ann_knn_join_ivf_index_append",
    (s, _) => {
      val emb = s.table("embeddings")
      val corpus = emb.where(col("label") =!= 0)
      val trained = Similarity.ivfCentroids(corpus, nlist = 16)
      Similarity.saveIndex(s, corpus.where(col("vec_id") % 10 =!= 3),
        trained, "g_knn_ivf_idx_app")
      Similarity.appendToIndex(s, corpus.where(col("vec_id") % 10 === 3),
        trained, "g_knn_ivf_idx_app")
      Similarity.knnJoinIvfIndexed(emb.where(col("label") === 0),
        Similarity.loadIndex(s, "g_knn_ivf_idx_app"), trained, k = 5,
        nprobe = trained.length)
    },
    duckKnnBipartite)

  /** STREAMING INDEX MAINTENANCE pin — the nightly-crawl append run as a
    * STREAM: build the index on 90% of the corpus, drain the other 10%
    * through [[graft.streaming.Streams.streamingIndexAppend]] (foreachBatch
    * → appendToIndex under the FROZEN quantizer, stamp verified per
    * batch), and run the routed join at nprobe = nlist over the maintained
    * artifact. A vector's list depends only on the frozen centroids, so
    * stream-append ≡ batch-append ≡ full rebuild and the result must still
    * be the exact bipartite rank over the FULL corpus. Closes the loop:
    * declarative build → STREAMING maintenance → streaming serving. */
  val streamIndexAppend: OQ = OQ.df("stream_index_append",
    (s, _) => {
      import java.nio.file.{Files, StandardCopyOption}
      val emb = s.table("embeddings")
      val corpus = emb.where(col("label") =!= 0)
      val trained = Similarity.ivfCentroids(corpus, nlist = 16)
      Similarity.saveIndex(s, corpus.where(col("vec_id") % 10 =!= 3),
        trained, "g_stream_idx_app")
      // stage the 10% crawl batch as a one-file feed (content-keyed,
      // atomic-rename gated — the ann-feed idiom, shared across re-runs)
      val sig = s"idxapp-v1:${emb.inputFiles.toSeq.sorted.mkString(",")}"
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
      val feed = java.nio.file.Paths.get(s"/tmp/graft-idxapp-feed-$key")
      if (!Files.exists(feed.resolve("q.parquet"))) {
        val tmp = Files.createTempDirectory(feed.getParent, "graft-idxapp-stage")
        corpus.where(col("vec_id") % 10 === 3)
          .select(col("vec_id"), col("embedding"))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = graft.core.Fs.listDir(tmp)
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.createDirectories(feed)
        Files.move(part, feed.resolve("q.parquet"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        graft.core.Fs.deleteRecursively(tmp)
      }
      val stream = s.readStream
        .schema(s.read.parquet(feed.toString).schema).parquet(feed.toString)
      // fresh checkpoint per run: the index was just rebuilt at 90%, so a
      // committed-offset resume would silently skip the append
      graft.streaming.Streams.streamingIndexAppend(stream, "g_stream_idx_app",
        trained, checkpoint =
          Some(Files.createTempDirectory("graft-idxapp-cp").toString))
        .awaitTermination()
      Similarity.knnJoinIvfIndexed(emb.where(col("label") === 0),
        Similarity.loadIndex(s, "g_stream_idx_app"), trained, k = 5,
        nprobe = trained.length)
    },
    duckKnnBipartite)

  /** OFFLINE RECALL@K EVALUATION pin — the eval every ANN/compression knob
    * is tuned by, computed over two DETERMINISTIC rankings so the whole
    * pipeline (truncate → rank → intersect → per-query recall) is
    * SQL-replayable: approximate = exact cosine top-5 over the FIRST 32 OF
    * 64 dims (the matryoshka serving trade), baseline = full-dim cosine
    * top-5. Measures real information loss — recall < 1 for some queries,
    * 1 for others — with no learned state in the loop. */
  val annRecallAtK: OQ = OQ.df("ann_recall_at_k",
    (s, _) => {
      val emb = s.table("embeddings")
      val exact = Similarity.cosineTopK(emb, k = 5)
      val approx = Similarity.cosineTopK(
        emb.withColumn("embedding", slice(col("embedding"), 1, 32)), k = 5)
      Similarity.recallAtK(approx, exact, k = 5)
    },
    s"""$duckSims,
       |el32 AS (SELECT vec_id, CAST(unnest(list_slice(embedding, 1, 32)) AS DOUBLE) AS e,
       |    generate_subscripts(list_slice(embedding, 1, 32), 1) AS i FROM embeddings),
       |norms32 AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM el32 GROUP BY 1),
       |dots32 AS (SELECT a.vec_id AS a, b.vec_id AS b, sum(a.e * b.e) AS dot
       |  FROM el32 a JOIN el32 b ON a.i = b.i GROUP BY 1, 2),
       |sims32 AS (SELECT dots32.a, dots32.b, round(dot / (na.nrm * nb.nrm), 6) AS cos
       |  FROM dots32 JOIN norms32 na ON dots32.a = na.vec_id
       |              JOIN norms32 nb ON dots32.b = nb.vec_id),
       |ex AS (SELECT a, b FROM (SELECT a, b,
       |    row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS r
       |  FROM sims WHERE a <> b) t WHERE r <= 5),
       |ap AS (SELECT a, b FROM (SELECT a, b,
       |    row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS r
       |  FROM sims32 WHERE a <> b) t WHERE r <= 5),
       |h AS (SELECT ex.a AS q, count(*) AS hits FROM ex
       |  JOIN ap ON ex.a = ap.a AND ex.b = ap.b GROUP BY 1),
       |den AS (SELECT a AS q, count(*) AS n_exact FROM ex GROUP BY 1)
       |SELECT den.q, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(den.n_exact AS BIGINT) AS n_exact,
       |  round(coalesce(h.hits, 0) / den.n_exact, 6) AS recall
       |FROM den LEFT JOIN h ON den.q = h.q""".stripMargin)

  /** Cluster-balanced-sample LOSSLESSNESS pin: a per-cluster quota above
    * any cluster's size keeps every vector, so the full train → assign →
    * rank → filter pipeline must emit each id exactly once — the learned
    * clusters have no SQL form, but the pipeline's no-drop/no-dup property
    * does. The production quota stays witness-tested + benched
    * (`emb_cluster_sample`). */
  val clusterSampleFull: OQ = OQ.df("emb_cluster_sample_full",
    (s, _) => graft.ops.Similarity.clusterBalancedSample(
      s.table("embeddings"), nlist = 16, perCluster = 1 << 20)
      .select(col("vec_id")),
    "SELECT vec_id FROM embeddings")

  private def duckTopK(k: Int) =
    s"""$duckSims
       |SELECT a, b, cos, CAST(rank AS INT) AS rank FROM (
       |  SELECT a, b, cos, row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rank
       |  FROM sims WHERE a <> b) r
       |WHERE rank <= $k""".stripMargin

  /** LSH exactness witness: 1 table × 0 bits ⇒ every vector lands in ONE
    * bucket ⇒ the candidate set provably covers, so the bucketed machinery
    * must reproduce brute-force top-k bit-for-bit — oracle-checked against
    * it. The production config (auto-scaled bits, 4 tables) is the same code
    * path, recall-gated ≥0.9 in DataOpsSpec and benched as
    * `ann_lsh_bucketed` (bench-only: approximate output has no SQL oracle). */
  val annLshExact: OQ = OQ.df("ann_lsh_exact",
    (s, _) => Similarity.lshTopK(s.table("embeddings"), k = 5, bits = 0, tables = 1),
    duckTopK(5))

  /** Multi-table LSH losslessness witness: 4 tables × 0 bits puts every
    * vector in ALL FOUR single-bucket tables with an over-sized bucket cap,
    * so the candidate set provably covers — the PRODUCTION multi-table
    * machinery (per-table union, streamed bucket-cap heap, cross-table
    * candidate dedup, global merge window) must then reproduce brute-force
    * top-k bit-for-bit. [[annLshExact]] pins one degenerate table; this
    * pins the multi-table merge path itself (the
    * `dedup_minhash_lsh_capped_lossless` pattern). The production config
    * (auto bits, 4 tables) stays recall-gated + benched (`ann_lsh_bucketed`). */
  val annLshMultitableLossless: OQ = OQ.df("ann_lsh_bucketed_lossless",
    (s, _) => Similarity.lshTopK(s.table("embeddings"), k = 5, bits = 0,
      tables = 4, maxBucket = 1 << 20),
    duckTopK(5))

  /** IVF exactness witness: probing every list (nprobe = nlist) makes IVF
    * provably exhaustive — each vector lives in exactly one inverted list
    * and every list is searched — so the oracle is brute-force top-k. The
    * approximate config (nprobe=4) is recall-gated ≥0.8 in DataOpsSpec and
    * benched as `ann_ivf_topk`. */
  val annIvfFullProbe: OQ = OQ.df("ann_ivf_full_probe",
    (s, _) => Similarity.ivfTopK(s.table("embeddings"), k = 5, nlist = 16, nprobe = 16),
    duckTopK(5))

  /** INDEX-ARTIFACT ROUND-TRIP pin: train the coarse quantizer, persist it
    * as a catalog table, reload, and run the FULL-PROBE search under the
    * reloaded artifact — parquet float arrays round-trip bit-exactly, so
    * the result must equal brute-force top-k (the `ann_ivf_full_probe`
    * reduction through a save/load cycle). This is the cross-JOB face of
    * the build-once contract: every later session loads the same quantizer
    * instead of retraining into shifted cluster boundaries. */
  val indexRoundtrip: OQ = OQ.df("emb_index_roundtrip",
    (s, _) => {
      val emb = s.table("embeddings")
      val trained = Similarity.ivfCentroids(emb, nlist = 16)
      Similarity.saveCentroids(s, trained, "g_ivf_index")
      val loaded = Similarity.loadCentroids(s, "g_ivf_index")
      Similarity.ivfTopK(emb, k = 5, nlist = 16, nprobe = 16,
        prebuilt = Some(loaded))
    },
    duckTopK(5))

  /** Capped-bucket LSH losslessness witness: a bucket cap far above any
    * real bucket size routes through the SAME capped plan as the skew-safe
    * production config (`dedup_minhash_lsh_capped`: one capped aggregation
    * per bucket + two narrow explodes, never a raw-row bucket self-join)
    * while provably dropping nothing — so the uncapped exact-Jaccard
    * oracle pins the capped machinery itself (CappedCollectList, the
    * size(2..cap) window, the in-bucket pairing) every round. */
  val minhashCappedLossless: OQ = OQ.df("dedup_minhash_lsh_capped_lossless",
    (s, _) => Dedup.minhashLsh(s.table("documents"),
      n = 3, numHashes = 128, rowsPerBand = 2, threshold = 0.5,
      maxBucket = 1 << 20),
    duckJaccard(0.5))

  /** SemDeDup exactness witness: nlist = 1 routes every vector into the
    * single cluster, so the clustered scorer (train → probe-route →
    * per-cluster pair scan) must reproduce the exact blocked operator —
    * the DataOpsSpec pin promoted to an oracle key, re-proven against
    * DuckDB each round under `dedup_embedding_cosine`'s SQL. */
  val semanticExact: OQ = OQ.df("dedup_semantic_exact",
    (s, _) => Similarity.semanticNearDup(s.table("embeddings"),
      threshold = 0.45, nlist = 1),
    embeddingNearDup.oracle.get)

  /** ADC exactness witness: m = 1 with an identity codebook — zero Lloyd
    * iterations over a sample covering every vector, so the codebook IS
    * the distinct vector set and reconstruction is exact — makes ADC
    * distances exact squared-L2 and the top-k equal to brute force. The
    * degenerate config that oracle-pins the whole encode → distance-table
    * → bounded-heap machinery behind `emb_pq_adc_topk`. */
  /** Brute-force squared-L2 top-5 — the shared oracle for every exact PQ
    * reduction (plain ADC and the composed IVF-PQ route degenerate to the
    * SAME answer, so they share the SAME SQL). */
  private val duckL2Top5 =
    """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |d AS (SELECT a.vec_id AS a, b.vec_id AS b,
      |    sum((a.e - b.e) * (a.e - b.e)) AS d2
      |  FROM el a JOIN el b ON a.i = b.i AND a.vec_id <> b.vec_id GROUP BY 1, 2),
      |r AS (SELECT a, b, d2,
      |    row_number() OVER (PARTITION BY a ORDER BY d2, b) AS rank FROM d)
      |SELECT a, b, round(d2, 6) AS dist2, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5""".stripMargin

  /** PQ-codebook ARTIFACT round-trip pin — [[indexRoundtrip]]'s PQ twin:
    * train the exact-configuration codebooks (m=1, full-coverage codes, 0
    * iterations — [[pqExact]]'s reduction), persist as a catalog table,
    * reload, and ADC-rank under the RELOADED books: bit-exact parquet
    * float round-trip means the result must still equal brute-force
    * squared-L2 top-k. Pins that stored codes stay valid across sessions
    * (a retrain would remap code ids and corrupt every stored code). */
  val pqIndexRoundtrip: OQ = OQ.df("emb_pq_index_roundtrip",
    (s, _) => {
      val emb = s.table("embeddings").where(col("embedding").isNotNull)
      val books = graft.ops.Pq.pqTrain(emb, m = 1, k = 1 << 17,
        iterations = 0, maxTrainSample = 1 << 17)
      graft.ops.Pq.saveCodebooks(s, books, "g_pq_index")
      val loaded = graft.ops.Pq.loadCodebooks(s, "g_pq_index")
      graft.ops.Pq.pqTopK(emb, loaded, topK = 5)
        .select(col("a"), col("b"), round(col("adc_dist2"), 6).as("dist2"),
          col("rank").cast("int").as("rank"))
    },
    duckL2Top5)

  val pqExact: OQ = OQ.df("emb_pq_adc_exact",
    (s, _) => {
      val emb = s.table("embeddings").where(col("embedding").isNotNull)
      val books = graft.ops.Pq.pqTrain(emb, m = 1, k = 1 << 17,
        iterations = 0, maxTrainSample = 1 << 17)
      graft.ops.Pq.pqTopK(emb, books, topK = 5)
        .select(col("a"), col("b"), round(col("adc_dist2"), 6).as("dist2"),
          col("rank").cast("int").as("rank"))
    },
    duckL2Top5)

  /** Composed IVF-PQ exactness reduction: a prebuilt ZERO coarse centroid
    * (nlist = 1) makes every residual the vector itself bit-for-bit (no
    * float subtraction noise), and the m=1 identity codebook (zero Lloyd
    * iterations over a full-coverage sample — [[pqExact]]'s trick) makes
    * ADC distances exact squared-L2. The whole composed route — cell
    * assignment, residualization, per-list ADC, rank — must therefore
    * reproduce brute force, pinned against the SAME oracle as the plain
    * ADC reduction. The production config (nlist=16, nprobe=4, m=8) is the
    * same code path, recall-gated in DataOpsSpec and benched as
    * `emb_ivfpq_topk`. */
  val ivfPqExact: OQ = OQ.df("emb_ivfpq_exact",
    (s, _) => {
      val emb = s.table("embeddings").where(col("embedding").isNotNull)
      graft.ops.Pq.ivfPqTopK(emb, topK = 5, nlist = 1, nprobe = 1,
        m = 1, k = 1 << 17, iterations = 0, maxTrainSample = 1 << 17,
        prebuiltCentroids = Some(Array(Array.emptyFloatArray)))
        .select(col("a"), col("b"), round(col("adc_dist2"), 6).as("dist2"),
          col("rank").cast("int").as("rank"))
    },
    duckL2Top5)

  /** Brute-force BIPARTITE squared-L2 top-5 (label-0 queries vs label≠0
    * corpus) — the oracle for the IVF-PQ-routed KNN join's exactness
    * reduction. */
  private val duckL2Bipartite =
    """WITH el AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS e,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |d AS (SELECT a.vec_id AS q, b.vec_id AS b,
      |    sum((a.e - b.e) * (a.e - b.e)) AS d2
      |  FROM el a JOIN el b ON a.i = b.i
      |  WHERE a.label = 0 AND b.label <> 0 GROUP BY 1, 2),
      |r AS (SELECT q, b, d2,
      |    row_number() OVER (PARTITION BY q ORDER BY d2, b) AS rank FROM d)
      |SELECT q, b, round(d2, 6) AS dist2, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5""".stripMargin

  /** IVF-PQ-routed BIPARTITE KNN join exactness pin — [[ivfPqExact]]'s
    * reduction applied to the two-table retrieval join: one ZERO coarse
    * centroid (residual ≡ vector bit-for-bit) + the m=1 identity codebook
    * trained on the CORPUS side with full coverage ⇒ ADC distances are
    * exact squared-L2 and nprobe=1 is exhaustive, so the whole composed
    * route — corpus encode, query routing, per-cell residual distance
    * tables, bounded per-list heaps, merge window — must reproduce the
    * brute-force bipartite rank. The production config (nlist=16, nprobe=4,
    * m=8) is the same code path, recall-gated in DataOpsSpec and benched as
    * `ann_knn_join_ivfpq`. */
  val knnJoinIvfPqExact: OQ = OQ.df("ann_knn_join_ivfpq_exact",
    (s, _) => {
      val emb = s.table("embeddings")
      graft.ops.Pq.knnJoinIvfPq(emb.where(col("label") === 0),
        emb.where(col("label") =!= 0), topK = 5, nlist = 1, nprobe = 1,
        m = 1, k = 1 << 17, iterations = 0, maxTrainSample = 1 << 17,
        prebuiltCentroids = Some(Array(Array.emptyFloatArray)))
        .select(col("q"), col("b"), round(col("adc_dist2"), 6).as("dist2"),
          col("rank").cast("int").as("rank"))
    },
    duckL2Bipartite)

  /** PERSISTED-PQ-INDEX pin — the full IVFADC artifact cycle: train the
    * degenerate quantizers (zero coarse centroid, m=1 identity codebook),
    * persist codebooks AND the routed+encoded (list_id, id, codes) lists,
    * reload everything, and ADC-search under the loaded artifacts. Codes
    * and float codebooks round-trip parquet bit-exactly, so the result
    * must still be brute-force bipartite L2 — pinning that a query batch
    * can run with ZERO per-batch corpus work (no assignment, no encode)
    * across job boundaries. */
  val knnJoinIvfPqIndexed: OQ = OQ.df("ann_knn_join_ivfpq_indexed",
    (s, _) => {
      val emb = s.table("embeddings")
      val corpus = emb.where(col("label") =!= 0)
        .where(col("embedding").isNotNull)
      val zeroCentroid = Array(Array.emptyFloatArray)
      // residual under the zero centroid IS the vector — train the identity
      // codebook on the corpus directly
      val books = graft.ops.Pq.pqTrain(corpus, m = 1, k = 1 << 17,
        iterations = 0, maxTrainSample = 1 << 17)
      graft.ops.Pq.saveCodebooks(s, books, "g_pqidx_books")
      graft.ops.Pq.savePqIndex(s, corpus, zeroCentroid, books, "g_pqidx_lists")
      graft.ops.Pq.knnJoinIvfPqIndexed(emb.where(col("label") === 0),
        graft.ops.Pq.loadPqIndex(s, "g_pqidx_lists"), zeroCentroid,
        graft.ops.Pq.loadCodebooks(s, "g_pqidx_books"), topK = 5, nprobe = 1)
        .select(col("q"), col("b"), round(col("adc_dist2"), 6).as("dist2"),
          col("rank").cast("int").as("rank"))
    },
    duckL2Bipartite)

  /** INCREMENTAL IVFADC maintenance pin — [[knnJoinIvfIndexAppend]]'s
    * nightly-crawl shape applied to the CODE index: build the PQ index on
    * 90% of the corpus, [[graft.ops.Pq.appendToPqIndex]] the other 10%
    * under the SAME frozen (centroids, books) pair, and ADC-search the
    * combined artifact. A vector's list AND codes depend only on the
    * frozen quantizers, so append ≡ full rebuild — under the degenerate
    * config the result must still be brute-force bipartite L2, pinning
    * that per-ingest-batch IVFADC cost is O(batch), never O(corpus)
    * (route + encode of the batch only; the r15 gap where every ingest
    * forced a full corpus re-encode). */
  val knnJoinIvfPqIndexAppend: OQ = OQ.df("ann_knn_join_ivfpq_index_append",
    (s, _) => {
      val emb = s.table("embeddings")
      val corpus = emb.where(col("label") =!= 0)
        .where(col("embedding").isNotNull)
      val zeroCentroid = Array(Array.emptyFloatArray)
      // identity codebook trained over the FULL corpus (k covers every
      // distinct subvector), so batch rows encode exactly too
      val books = graft.ops.Pq.pqTrain(corpus, m = 1, k = 1 << 17,
        iterations = 0, maxTrainSample = 1 << 17)
      graft.ops.Pq.savePqIndex(s, corpus.where(col("vec_id") % 10 =!= 3),
        zeroCentroid, books, "g_pqidx_app")
      graft.ops.Pq.appendToPqIndex(s, corpus.where(col("vec_id") % 10 === 3),
        zeroCentroid, books, "g_pqidx_app")
      graft.ops.Pq.knnJoinIvfPqIndexed(emb.where(col("label") === 0),
        graft.ops.Pq.loadPqIndex(s, "g_pqidx_app"), zeroCentroid, books,
        topK = 5, nprobe = 1)
        .select(col("q"), col("b"), round(col("adc_dist2"), 6).as("dist2"),
          col("rank").cast("int").as("rank"))
    },
    duckL2Bipartite)

  /** TWO-STAGE RETRIEVAL lossless pin: with the degenerate quantizers the
    * ADC stage is exact L2, and a shortlist wider than the corpus keeps
    * every candidate — so the composed shortlist → exact-cosine-rerank
    * route must reproduce the exact bipartite COSINE rank (knnJoin's own
    * oracle). Pins the stage-2 machinery itself: the survivor joins, the
    * native cosine, the bounded-heap rank. Production config benched as
    * `ann_knn_join_ivfpq_rerank` + recall-gated in DataOpsSpec. */
  val knnJoinIvfPqRerankExact: OQ = OQ.df("ann_knn_join_ivfpq_rerank_exact",
    (s, _) => {
      val emb = s.table("embeddings")
      graft.ops.Pq.knnJoinIvfPqRerank(emb.where(col("label") === 0),
        emb.where(col("label") =!= 0), topK = 5, shortlist = 1 << 17,
        nlist = 1, nprobe = 1, m = 1, k = 1 << 17, iterations = 0,
        maxTrainSample = 1 << 17,
        prebuiltCentroids = Some(Array(Array.emptyFloatArray)))
    },
    duckKnnBipartite)

  /** Bench-only approximate ANN configs — the r3 registry entries, kept
    * under their original bench names so round-over-round timings stay
    * comparable. NOT in the oracle registry: approximate top-k has no SQL
    * oracle; their semantics are recall-gated in DataOpsSpec. */
  val annLshBench: OQ = OQ.rowsOnly("ann_lsh_bucketed",
    (s, _) => Similarity.lshTopKAuto(s.table("embeddings"), k = 5))
  val annIvfBench: OQ = OQ.rowsOnly("ann_ivf_topk",
    (s, _) => Similarity.ivfTopK(s.table("embeddings"), k = 5, nlist = 16, nprobe = 4))
  /** Skew-safe minhash config (bucket-capped candidate stage): recall is
    * data-dependent (over-cap buckets drop), so no SQL oracle — semantics
    * are witness-tested in DataOpsSpec; timing tracked per round. */
  val minhashCappedBench: OQ = OQ.rowsOnly("dedup_minhash_lsh_capped",
    (s, _) => Dedup.minhashLsh(s.table("documents"),
      n = 3, numHashes = 128, rowsPerBand = 2, threshold = 0.5, maxBucket = 20))
  /** One-permutation signatures (Li et al. 2012 + rotation densification):
    * one hash per gram instead of 128 — the tokenizer-scale signature
    * path. Candidate recall is probabilistic (no SQL oracle); the
    * recall-vs-exact witness lives in DataOpsSpec; timing tracked. */
  val minhashOphBench: OQ = OQ.rowsOnly("dedup_minhash_oph",
    (s, _) => Dedup.minhashLsh(s.table("documents"),
      n = 3, numHashes = 128, rowsPerBand = 2, threshold = 0.5,
      maxBucket = 20, oph = true))
  /** BPE vocabulary induction: iterative argmax training has no
    * single-statement SQL form (aggregates inside recursion), so no SQL
    * oracle — the classic-merges witness + determinism live in DataOpsSpec;
    * timing tracked per round. */
  val bpeBench: OQ = OQ.rowsOnly("text_bpe_merges",
    (s, _) => graft.ops.Bpe.bpeMerges(s.table("documents"), numMerges = 16))

  /** SemDeDup-style clustered embedding near-dup: recall is data-dependent
    * (pairs straddling a learned-cluster boundary are unseen), so no SQL
    * oracle — precision/subset/recall witnesses live in DataOpsSpec; the
    * nlist=1 config is spec-pinned equal to the exact operator. */
  val semanticBench: OQ = OQ.rowsOnly("dedup_semantic",
    (s, _) => Similarity.semanticNearDup(s.table("embeddings"),
      threshold = 0.45, nlist = 8, probes = 2))
  /** Weak-label quality classifier distilling the Gopher rule gate into a
    * hashed-bag-of-words LR (the fasttext-corpus-filter shape). Learned
    * coefficients have no SQL form — separation is witness-tested in
    * DataOpsSpec on a crafted vocabulary-shift corpus; timing tracked. */
  val qualityClf: OQ = OQ.rowsOnly("text_quality_classifier",
    (s, _) => {
      val docs = s.table("documents")
      val weak = TextAnalysis.gopherFilter(docs).select("doc_id", "passes_gopher")
      val labeled = docs.join(weak, "doc_id")
      graft.ops.QualityClassifier.trainAndScore(
        labeled.where(graft.ops.Sampling.hashBucket(col("doc_id")) < 20),
        docs, col("passes_gopher"), featureBits = 12, maxIter = 5)
    })

  /** Cluster-balanced prototype selection over the learned quantizer —
    * no SQL form (learned centroids); quota/centrality witness-tested in
    * DataOpsSpec, timing tracked per round. */
  val clusterSample: OQ = OQ.rowsOnly("emb_cluster_sample",
    (s, _) => graft.ops.Similarity.clusterBalancedSample(
      s.table("embeddings"), nlist = 16, perCluster = 50))

  /** Mergeable HLL distinct rollup — engines' sketch estimates differ, so
    * no cross-engine oracle; accuracy and merge-consistency are
    * witness-tested in DataOpsSpec, timing tracked per round. */
  val sketchDistinct: OQ = OQ.rowsOnly("sketch_distinct_users",
    (s, _) => graft.ops.Sketches.distinctRollup(s.table("events"),
      "event_type", "user_id"))

  /** KMV distinct sketch — unlike HLL, the sketch (k smallest portable
    * md5 fingerprints) and therefore the ESTIMATE are engine-reproducible,
    * so the oracle replays the real approximate estimator in SQL: at
    * sf0.01 every event_type holds ~150 distinct users > k=64, so the
    * checked values ARE estimates, not an exact-degenerate pin. The rollup
    * row re-selects k minima from the union of per-group sketches —
    * mergeability checked cross-engine too. */
  val sketchKmv: OQ = {
    val k = 64
    val p60 = "1152921504606846976.0" // 2^60
    def est(c: String, hk: String) =
      s"""CASE WHEN $c < $k THEN $c
         |    ELSE CAST(round(${k - 1}.0 / (CAST($hk AS DOUBLE) / $p60)) AS BIGINT) END""".stripMargin
    OQ.df("sketch_distinct_kmv",
      (s, _) => graft.ops.Sketches.kmvDistinct(s.table("events"),
        "event_type", "user_id", k = k)
        .selectExpr("grp", "n_distinct_est", "is_exact", "is_rollup"),
      s"""WITH h AS (SELECT DISTINCT event_type AS grp,
         |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM h),
         |kk AS (SELECT grp, count(*) AS c, max(h) AS hk FROM r WHERE rn <= $k GROUP BY 1),
         |per AS (SELECT grp, ${est("c", "hk")} AS n_distinct_est,
         |    c < $k AS is_exact, false AS is_rollup FROM kk),
         |gh AS (SELECT DISTINCT h FROM r WHERE rn <= $k),
         |gr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM gh),
         |gk AS (SELECT count(*) AS c, max(h) AS hk FROM gr WHERE rn <= $k),
         |roll AS (SELECT CAST(NULL AS VARCHAR) AS grp, ${est("c", "hk")} AS n_distinct_est,
         |    c < $k AS is_exact, true AS is_rollup FROM gk)
         |SELECT * FROM per UNION ALL SELECT * FROM roll""".stripMargin)
  }

  /** Fixed-grid histogram quantiles — mergeable approximate p50/p95/p99
    * of event value per event_type, no sort anywhere; the DECLARED grid
    * (width 2.0 × 256 clamped buckets) makes the whole estimator
    * engine-identical, so the oracle replays it — like the KMV sketch,
    * the checked values are the real approximations. */
  val quantileHistQ: OQ = {
    val qsSql = "[CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE), CAST(0.99 AS DOUBLE)]"
    OQ.df("sketch_quantile_histogram",
      (s, _) => graft.ops.Sketches.histogramQuantiles(s.table("events"),
        "event_type", "value", bucketWidth = 2.0, nBuckets = 256)
        .selectExpr("grp", "q", "CAST(n AS BIGINT) AS n", "quantile_est"),
      s"""WITH c AS (SELECT event_type AS grp,
         |    greatest(least(CAST(floor(value / 2.0) AS BIGINT), 255), 0) AS bucket,
         |    count(*) AS cnt
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |w AS (SELECT grp, bucket, cnt,
         |    sum(cnt) OVER (PARTITION BY grp ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(cnt) OVER (PARTITION BY grp) AS n
         |  FROM c),
         |qq AS (SELECT unnest($qsSql) AS q),
         |hit AS (SELECT grp, q, n, bucket, cum, cnt,
         |    row_number() OVER (PARTITION BY grp, q ORDER BY bucket) AS rn
         |  FROM w, qq WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE))
         |SELECT grp, q, CAST(n AS BIGINT) AS n,
         |  round(CAST(bucket AS DOUBLE) * 2.0 + 2.0 *
         |    ((q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)),
         |    6) AS quantile_est
         |FROM hit WHERE rn = 1""".stripMargin)
  }

  /** Exact corpus heavy-hitter words at phi=0.002 via the two-phase
    * Misra–Gries candidates → broadcast exact-verify plan; the oracle is
    * the naive full GROUP BY + HAVING (identical output, very different
    * shuffle volume at scale). */
  val heavyHittersQ: OQ = OQ.df("sketch_heavy_hitters",
    (s, _) => graft.ops.Sketches.heavyHitters(
      s.table("documents")
        .select(explode(TextAnalysis.words(col("text"))).as("word"))
        .where(col("word") =!= ""),
      itemCol = "word", phi = 0.002)
      .selectExpr("item AS word", "CAST(n AS BIGINT) AS n"),
    s"""WITH w AS (SELECT unnest(string_split($NORM, ' ')) AS word FROM documents),
       |nz AS (SELECT word FROM w WHERE word <> ''),
       |tot AS (SELECT count(*) AS n FROM nz)
       |SELECT word, count(*) AS n FROM nz GROUP BY 1
       |HAVING count(*) >= CAST(ceil(0.002 * (SELECT n FROM tot)) AS BIGINT)""".stripMargin)

  /** PQ encode + ADC search: learned codebooks have no SQL form — codes,
    * reconstruction error and ADC recall are witness-tested in DataOpsSpec;
    * timing tracked per round. */
  val pqBench: OQ = OQ.rowsOnly("emb_pq_adc_topk",
    (s, _) => {
      val emb = s.table("embeddings")
      graft.ops.Pq.pqTopK(emb, graft.ops.Pq.pqTrain(emb, m = 16, k = 16), topK = 5)
    })

  // ---- multimodal ---------------------------------------------------------

  /** Binary decode plumbing: media table → mapPartitions stub decoder. The
    * oracle replays the stub arithmetic in SQL over the same bytes. */
  val mmFeatures: OQ = OQ.df("mm_binary_features",
    (s, _) => Multimodal.extractFeatures(Multimodal.toMediaTable(s.table("documents"))),
    """SELECT doc_id AS media_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  CAST(1 + octet_length(CAST(text AS BLOB)) % 1024 AS INT) AS width,
      |  CAST(1 + (octet_length(CAST(text AS BLOB)) * 7) % 768 AS INT) AS height,
      |  CAST(3 AS INT) AS channels,
      |  md5(text) AS content_hash
      |FROM documents""".stripMargin)

  /** Resize stage plumbing: the oracle pins the stride arithmetic
    * (dimensions + in/out byte counts); the stub's resized-byte hash is
    * spec-covered (byte striding has no portable SQL form for multi-byte
    * text payloads). */
  val mmResize: OQ = OQ.df("mm_resize",
    (s, _) => Multimodal.resize(Multimodal.toMediaTable(s.table("documents")),
      targetWidth = 16, targetHeight = 8)
      .select("media_id", "out_width", "out_height", "n_bytes_in", "n_bytes_out"),
    """WITH m AS (SELECT doc_id AS media_id,
      |  octet_length(CAST(text AS BLOB)) AS len FROM documents),
      |s AS (SELECT media_id, len, greatest(1, len // 128) AS stride FROM m)
      |SELECT media_id, CAST(16 AS INT) AS out_width, CAST(8 AS INT) AS out_height,
      |  CAST(len AS BIGINT) AS n_bytes_in,
      |  CAST(CASE WHEN len = 0 THEN 0 ELSE (len - 1) // stride + 1 END AS BIGINT) AS n_bytes_out
      |FROM s""".stripMargin)

  /** Frame-sampling generator (no driver loop): every-2nd 64-byte chunk
    * boundary; the DuckDB oracle replays the same chunk arithmetic. */
  val mmFrames: OQ = OQ.df("mm_frame_sample",
    (s, _) => Multimodal.sampleFrames(Multimodal.toMediaTable(s.table("documents")),
      chunk = 64, every = 2),
    """WITH m AS (SELECT doc_id AS media_id,
      |  greatest(CAST(1 AS BIGINT),
      |    CAST(ceil(CAST(octet_length(CAST(text AS BLOB)) AS DOUBLE) / 64) AS BIGINT)) AS n_chunks
      |  FROM documents)
      |SELECT media_id, CAST(frame_no AS BIGINT) AS frame_no,
      |  CAST(frame_no * 64 AS BIGINT) AS byte_offset
      |FROM (SELECT media_id, unnest(generate_series(0, n_chunks - 1, 2)) AS frame_no FROM m) t""".stripMargin)

  // lazy: zorderBench (promoted into the oracle registry) is declared after
  // this list in source order — a strict val would capture it as null
  lazy val all: Seq[OQ] = Seq(tokenCount, textChunk, textPack, langId, quality, fingerprint,
    normalize, dedupKeepBest, noveltyQ, lexDiversityQ, qualityCdfQ, htmlStripQ, sentencesQ,
    sketchKmv, quantileHistQ, hardNegativesQ, clusterSampleFull, knnJoinQ, bruteL2TopKQ,
    knnJoinIvfExact, knnJoinIvfIndexed, knnJoinIvfIndexAppend,
    streamIndexAppend, annRecallAtK, annLshMultitableLossless,
    rollingHash, unigramLm, bigramLm, ccnetBucketsQ, spanDedup, lineDedupQ, gopher, c4FilterQ,
    gopherRepetitionQ, corpusStats, corpusOverlapQ,
    tfIdf, tfIdfCosineQ, piiRedact, vocab, repetition, sampleStratified, sampleSplit,
    sampleMixture, sampleMixtureTokens, sampleEpochs, sampleTemperature, sampleShards, sampleBudget, sampleSplitGrouped,
    groupTopKQ, groupReservoirQ,
    dsirScoresQ,
    quantizeInt8, embNormalize, matryoshkaQ, randomProjQ, centroidQ, embOutliersQ, cosineExpr,
    sessionize, sessionWindow, contaminated, curation, embCuration,
    dedupExact, ngramJaccard, ngramJaccardPrefix, containmentPairsQ,
    containmentPairsPrefixQ, ngramJaccardUncapped,
    dedupIncremental, dedupIncrementalPrefix, dedupContainmentIncr,
    dedupContainmentIncrPrefix, minhashLsh,
    simhash, simhashHamming, bloomDedupExact,
    dedupCluster, dedupClusterKeepBest, substringSpans, substringRemoved,
    contaminationSpansQ,
    outliersMad,
    embeddingNearDup, annTopK, annLshExact, annIvfFullProbe, indexRoundtrip,
    minhashCappedLossless, semanticExact, pqExact, pqIndexRoundtrip, ivfPqExact,
    knnJoinIvfPqExact, knnJoinIvfPqIndexed, knnJoinIvfPqIndexAppend,
    knnJoinIvfPqRerankExact,
    contaminationEmb, weightedTopKQ, qualityZScoreQ,
    mmFeatures, mmFrames, mmResize, phashExact, phashIndexed,
    streamSigIndexAppend, heavyHittersQ,
    zorderBench)

  /** Z-order layout pass over lineitem (per-dimension quantile buckets +
    * Morton interleave + one range shuffle): layout/pruning effects are
    * witness-tested in DataOpsSpec and MaterializerSpec. The layout itself
    * has no SQL form, but its LOSSLESSNESS does: the driver compare sorts
    * rows before hashing, so pinning the clustered output against a plain
    * projection proves the quantile-rank + Morton + range-shuffle pass
    * never drops, duplicates, or mutates a row — the property a relayout
    * pass must keep at any scale. Pruning effects stay witness-tested; the
    * bench key keeps tracking the shuffle+sort cost under the same name. */
  val zorderBench: OQ = OQ.df("mat_zorder_cluster",
    (s, _) => graft.ops.ZOrder.cluster(
      s.table("lineitem").select("l_orderkey", "l_partkey", "l_extendedprice"),
      Seq("l_orderkey", "l_partkey"), numFiles = 32),
    "SELECT l_orderkey, l_partkey, l_extendedprice FROM lineitem")

  /** Perceptual-hash near-dup over media payloads (binary column → 8×8-DCT
    * pHash over the injectable codec's luma grid → banded hamming join) —
    * the image-dedup shape. On this synthetic corpus the payloads aren't
    * imagery, so the luma plane comes from the stub's byte-region fallback,
    * but the DCT, thresholding, and join are the production path; real
    * decode robustness (re-encode, resize, pixel edits) is witness-tested
    * in DataOpsSpec on crafted PNGs. */
  val phashBench: OQ = OQ.rowsOnly("mm_phash_neardup",
    (s, _) => Dedup.hammingPairs(
      Multimodal.perceptualHashDct(Multimodal.toMediaTable(s.table("documents"))),
      maxHamming = 8, bands = 9, sigBits = 63, idCol = "media_id",
      sigCol = "phash", maxBucket = 200))

  /** pHash PLUMBING exactness pin (r13 brief #6): PRECOMPUTED 60-bit
    * signatures — a shared md5 base per `media_id % 200` group XOR one
    * per-row noise bit, both replayable in SQL — run through the IDENTICAL
    * banded hamming join config as the production `mm_phash_neardup`
    * (maxHamming 8, 9 bands over 63 bits), uncapped so the pigeonhole
    * construction is provably exact. Same-group rows differ by ≤ 2 bits
    * (thousands of true pairs), cross-group signatures are md5-random
    * (~never within 8), so the key pins band slicing, bucket join,
    * xor/bit_count verify AND the same-signature clique path against the
    * brute-force oracle every round; the DCT half stays covered by the
    * crafted-PNG robustness specs. */
  val phashExact: OQ = OQ.df("mm_phash_neardup_exact",
    (s, _) => {
      val media = Multimodal.toMediaTable(s.table("documents"))
      val sigs = media.selectExpr("media_id",
        """CAST(conv(substring(md5(CAST(CAST(media_id % 200 AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)
          | ^ shiftleft(CAST(1 AS BIGINT),
          |     CAST(CAST(conv(substring(md5(CAST(CAST(media_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 60 AS INT))
          | AS phash""".stripMargin.replace("\n", " "))
      Dedup.hammingPairs(sigs, maxHamming = 8, bands = 9, sigBits = 63,
        idCol = "media_id", sigCol = "phash")
    },
    """WITH sig AS (SELECT doc_id AS media_id,
      |    xor(CAST('0x' || substr(md5(CAST(doc_id % 200 AS VARCHAR)), 1, 15) AS BIGINT),
      |        CAST(1 AS BIGINT) << CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 60 AS INT)) AS phash
      |  FROM documents)
      |SELECT a.media_id AS a, b.media_id AS b,
      |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      |FROM sig a JOIN sig b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 8""".stripMargin)

  /** PERSISTED SIGNATURE INDEX pin — the r15 index discipline applied to
    * the media/simhash dedup family: build [[phashExact]]'s replayable
    * synthetic signatures, [[Dedup.saveSignatureIndex]] 90% of them
    * (band keys precomputed, bucketed by bk, geometry-stamped),
    * [[Dedup.appendToSignatureIndex]] the other 10% under the FROZEN
    * geometry, and run [[Dedup.hammingPairsIndexed]] over the loaded
    * artifact. Band keys depend only on (bands, sigBits), so
    * banding-over-loaded-index ≡ fresh signatures — the result must match
    * the same brute-force hamming oracle as the fresh path, pinning
    * save → append → load → join end to end (and that per-ingest
    * signature cost is O(batch), never O(corpus)). */
  val phashIndexed: OQ = OQ.df("mm_phash_neardup_indexed",
    (s, _) => {
      val media = Multimodal.toMediaTable(s.table("documents"))
      val sigs = media.selectExpr("media_id",
        """CAST(conv(substring(md5(CAST(CAST(media_id % 200 AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)
          | ^ shiftleft(CAST(1 AS BIGINT),
          |     CAST(CAST(conv(substring(md5(CAST(CAST(media_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 60 AS INT))
          | AS phash""".stripMargin.replace("\n", " "))
      Dedup.saveSignatureIndex(s, sigs.where(col("media_id") % 10 =!= 3),
        "g_phash_sig_idx", maxHamming = 8, bands = 9, sigBits = 63,
        idCol = "media_id", sigCol = "phash")
      Dedup.appendToSignatureIndex(s, sigs.where(col("media_id") % 10 === 3),
        "g_phash_sig_idx", idCol = "media_id", sigCol = "phash")
      Dedup.hammingPairsIndexed(Dedup.loadSignatureIndex(s, "g_phash_sig_idx"),
        maxHamming = 8, bands = 9, sigBits = 63)
    },
    phashExact.oracle.get)

  /** STREAMING SIGNATURE-INDEX MAINTENANCE pin — [[streamIndexAppend]]'s
    * discipline on the hamming dedup family: save 90% of [[phashExact]]'s
    * replayable signatures, drain the other 10% through
    * [[graft.streaming.Streams.streamingSignatureAppend]] (foreachBatch →
    * appendToSignatureIndex under the artifact's FROZEN stamped geometry),
    * and run the banded join over the maintained artifact. Band keys
    * depend only on (bands, sigBits), so stream-append ≡ batch-append ≡
    * fresh signatures — the same brute-force hamming oracle as the fresh
    * path. Completes streaming maintenance across ALL THREE index
    * families (float, PQ-code, signature). */
  val streamSigIndexAppend: OQ = OQ.df("stream_sig_index_append",
    (s, _) => {
      import java.nio.file.{Files, StandardCopyOption}
      val media = Multimodal.toMediaTable(s.table("documents"))
      val sigs = media.selectExpr("media_id",
        """CAST(conv(substring(md5(CAST(CAST(media_id % 200 AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)
          | ^ shiftleft(CAST(1 AS BIGINT),
          |     CAST(CAST(conv(substring(md5(CAST(CAST(media_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 60 AS INT))
          | AS phash""".stripMargin.replace("\n", " "))
      Dedup.saveSignatureIndex(s, sigs.where(col("media_id") % 10 =!= 3),
        "g_stream_sig_idx", maxHamming = 8, bands = 9, sigBits = 63,
        idCol = "media_id", sigCol = "phash")
      val sig = s"sigapp-v1:${s.table("documents").inputFiles.toSeq.sorted.mkString(",")}"
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
      val feed = java.nio.file.Paths.get(s"/tmp/graft-sigapp-feed-$key")
      if (!Files.exists(feed.resolve("q.parquet"))) {
        val tmp = Files.createTempDirectory(feed.getParent, "graft-sigapp-stage")
        sigs.where(col("media_id") % 10 === 3)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = graft.core.Fs.listDir(tmp)
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.createDirectories(feed)
        Files.move(part, feed.resolve("q.parquet"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        graft.core.Fs.deleteRecursively(tmp)
      }
      val stream = s.readStream
        .schema(s.read.parquet(feed.toString).schema).parquet(feed.toString)
      // fresh checkpoint per run — the index was just rebuilt at 90%
      graft.streaming.Streams.streamingSignatureAppend(stream,
        "g_stream_sig_idx", idCol = "media_id", sigCol = "phash",
        checkpoint = Some(Files.createTempDirectory("graft-sigapp-cp").toString))
        .awaitTermination()
      Dedup.hammingPairsIndexed(Dedup.loadSignatureIndex(s, "g_stream_sig_idx"),
        maxHamming = 8, bands = 9, sigBits = 63)
    },
    phashExact.oracle.get)

  /** EMBEDDING-CURATION CAPSTONE — the vector-side counterpart of
    * `pipeline_data_curation`, composed entirely from EXACT operators so
    * the whole pipeline oracle-checks end to end: (1) blocked-grid
    * near-dup pruning at cosine ≥ 0.9 (higher id drops), (2) embedding
    * decontamination against the label-0 eval suite at 0.4, (3) A-ES
    * weighted selection of 200 vectors proportional to the (rounded) L2
    * norm, (4) deterministic md5 sharding — reported as the per-(shard,
    * label) histogram. Every stage is the SAME code the standalone keys
    * pin; the oracle replays the four-stage composition in one DuckDB
    * query. */
  val embCuration: OQ = OQ.df("pipeline_embedding_curation",
    (s, _) => {
      val emb = s.table("embeddings")
      val eval = emb.where(col("label") === 0)
      val corpus = emb.where(col("label") =!= 0)
      val losers = Similarity.cosineNearDup(corpus, threshold = 0.9)
        .select(col("b").as("vec_id")).distinct()
      val deduped = corpus.join(losers, Seq("vec_id"), "left_anti")
      val dirty = Similarity.contaminationAgainst(deduped, eval, threshold = 0.4)
        .select("vec_id")
      val clean = deduped.join(dirty, Seq("vec_id"), "left_anti")
      val weighted = clean.select(col("vec_id"), col("label"),
        round(Similarity.l2norm(col("embedding")), 6).as("w"))
      val sampled = graft.ops.Sampling.weightedTopK(weighted, k = 200,
        weightCol = "w", idCol = "vec_id")
      graft.ops.Sampling.shardAssign(sampled.select("vec_id", "label"),
          nShards = 8, seed = "emb0", idCol = "vec_id")
        .groupBy("shard_id", "label")
        .agg(count(lit(1)).as("n"))
        .selectExpr("CAST(shard_id AS INT) AS shard_id",
          "CAST(label AS INT) AS label", "n")
    },
    """WITH el AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS e,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |norms AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM el GROUP BY 1),
      |dots AS (SELECT a.vec_id AS a, b.vec_id AS b, sum(a.e * b.e) AS dot
      |  FROM el a JOIN el b ON a.i = b.i
      |  WHERE a.label <> 0 AND b.label <> 0 AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |losers AS (SELECT DISTINCT dots.b FROM dots
      |  JOIN norms na ON dots.a = na.vec_id JOIN norms nb ON dots.b = nb.vec_id
      |  WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.9),
      |dd AS (SELECT vec_id, label FROM embeddings
      |  WHERE label <> 0 AND vec_id NOT IN (SELECT b FROM losers)),
      |cdots AS (SELECT c.vec_id AS a, ev.vec_id AS b, sum(c.e * ev.e) AS dot
      |  FROM el c JOIN el ev ON c.i = ev.i
      |  WHERE c.vec_id IN (SELECT vec_id FROM dd) AND ev.label = 0 GROUP BY 1, 2),
      |dirty AS (SELECT DISTINCT cdots.a FROM cdots
      |  JOIN norms na ON cdots.a = na.vec_id JOIN norms nb ON cdots.b = nb.vec_id
      |  WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4),
      |clean AS (SELECT d.vec_id, d.label, round(n.nrm, 6) AS w FROM dd d
      |  JOIN norms n ON d.vec_id = n.vec_id
      |  WHERE d.vec_id NOT IN (SELECT a FROM dirty)),
      |keys AS (SELECT vec_id, label,
      |    round(ln((CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
      |        % 1000000 + 0.5) / 1000000.0) / w, 6) AS es_key
      |  FROM clean WHERE w IS NOT NULL AND w > 0),
      |sel AS (SELECT vec_id, label FROM keys ORDER BY es_key DESC, vec_id LIMIT 200),
      |sh AS (SELECT CAST(CAST('0x' || substr(md5('emb0:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
      |    % 8 AS INT) AS shard_id, CAST(label AS INT) AS label FROM sel)
      |SELECT shard_id, label, count(*) AS n FROM sh GROUP BY 1, 2""".stripMargin)

  /** IVF-PQ composed index (residual ADC over probed lists): learned
    * quantizers have no SQL form — determinism, artifact reuse, and recall
    * are witness-tested in DataOpsSpec; the bench key tracks the composed
    * build+search cost. */
  val ivfPqBench: OQ = OQ.rowsOnly("emb_ivfpq_topk",
    (s, _) => graft.ops.Pq.ivfPqTopK(s.table("embeddings"),
      topK = 5, nlist = 64, nprobe = 8, m = 16, k = 16))

  /** Production IVF-routed bipartite KNN (nprobe ≪ nlist): per-query work
    * drops to ~nprobe/nlist of the exact grid; recall is gated ≥0.8 against
    * the exact [[knnJoinQ]] in DataOpsSpec and the full-probe config is
    * oracle-pinned as `ann_knn_join_ivf_exact`. */
  val knnJoinIvfBench: OQ = OQ.rowsOnly("ann_knn_join_ivf",
    (s, _) => {
      val emb = s.table("embeddings")
      Similarity.knnJoinIvf(emb.where(col("label") === 0),
        emb.where(col("label") =!= 0), k = 5, nlist = 16, nprobe = 4)
    })

  /** Production IVF-PQ-routed bipartite KNN (nprobe ≪ nlist over m-byte
    * codes): the memory-traffic tier under [[knnJoinIvfBench]] — candidates
    * cost m table lookups instead of d multiplications. Recall gated in
    * DataOpsSpec; the degenerate route is oracle-pinned as
    * `ann_knn_join_ivfpq_exact`. */
  val knnJoinIvfPqBench: OQ = OQ.rowsOnly("ann_knn_join_ivfpq",
    (s, _) => {
      val emb = s.table("embeddings")
      graft.ops.Pq.knnJoinIvfPq(emb.where(col("label") === 0),
        emb.where(col("label") =!= 0), topK = 5, nlist = 16, nprobe = 4,
        m = 8, k = 16)
    })

  /** Production two-stage retrieval (ADC shortlist 20 → exact cosine
    * rerank of the survivors): the FAISS search-then-refine serving shape.
    * The lossless reduction is oracle-pinned as
    * `ann_knn_join_ivfpq_rerank_exact`; recall gated in DataOpsSpec. */
  val knnJoinIvfPqRerankBench: OQ = OQ.rowsOnly("ann_knn_join_ivfpq_rerank",
    (s, _) => {
      val emb = s.table("embeddings")
      graft.ops.Pq.knnJoinIvfPqRerank(emb.where(col("label") === 0),
        emb.where(col("label") =!= 0), topK = 5, shortlist = 20,
        nlist = 16, nprobe = 4, m = 8, k = 16)
    })

  /** The PQ-index serving shape: build the code index once (first pass —
    * later passes find the artifacts), then run the production ADC batch
    * over the loaded m-byte codes. Min-over-passes = the warm per-batch
    * cost without assignment OR encoding. */
  val knnJoinIvfPqIndexedBench: OQ = OQ.rowsOnly("ann_knn_join_ivfpq_indexed_warm",
    (s, _) => {
      val emb = s.table("embeddings")
      val corpus = emb.where(col("label") =!= 0)
      if (!s.catalog.tableExists("g_knn_pq_centroids") ||
          !s.catalog.tableExists("g_knn_pq_books") ||
          !s.catalog.tableExists("g_knn_pq_index")) {
        val cents = Similarity.ivfCentroids(corpus, nlist = 16)
        val resDF = {
          import s.implicits._
          val bc = s.sparkContext.broadcast(cents)
          corpus.where(col("embedding").isNotNull)
            .select(col("vec_id").cast("long"), col("embedding"))
            .as[(Long, Array[Float])]
            .map { case (id, v) =>
              val c = bc.value(Similarity.nearestCentroid(v, bc.value))
              (id, v.indices.map(i => v(i) - (if (i < c.length) c(i) else 0f)).toArray)
            }.toDF("vec_id", "embedding")
        }
        val books = graft.ops.Pq.pqTrain(resDF, m = 8, k = 16)
        Similarity.saveCentroids(s, cents, "g_knn_pq_centroids")
        graft.ops.Pq.saveCodebooks(s, books, "g_knn_pq_books")
        graft.ops.Pq.savePqIndex(s, corpus, cents, books, "g_knn_pq_index")
      }
      graft.ops.Pq.knnJoinIvfPqIndexed(emb.where(col("label") === 0),
        graft.ops.Pq.loadPqIndex(s, "g_knn_pq_index"),
        Similarity.loadCentroids(s, "g_knn_pq_centroids"),
        graft.ops.Pq.loadCodebooks(s, "g_knn_pq_books"),
        topK = 5, nprobe = 4)
    })

  /** The SERVING shape of the persisted index: build centroids + inverted
    * lists once (first pass only — later passes find the artifacts and skip
    * straight to the query batch), then run the production routed join over
    * the loaded index. The min-over-passes bench time is therefore the
    * per-batch cost WITHOUT the corpus assignment pass — the number the
    * persisted index exists to shrink. Recall carries [[knnJoinIvfBench]]'s
    * gate (same route, same quantizer config). */
  val knnJoinIvfIndexedBench: OQ = OQ.rowsOnly("ann_knn_join_ivf_indexed_warm",
    (s, _) => {
      val emb = s.table("embeddings")
      val corpus = emb.where(col("label") =!= 0)
      if (!s.catalog.tableExists("g_knn_ivf_centroids") ||
          !s.catalog.tableExists("g_knn_ivf_index")) {
        val trained = Similarity.ivfCentroids(corpus, nlist = 16)
        Similarity.saveCentroids(s, trained, "g_knn_ivf_centroids")
        Similarity.saveIndex(s, corpus, trained, "g_knn_ivf_index")
      }
      val cents = Similarity.loadCentroids(s, "g_knn_ivf_centroids")
      Similarity.knnJoinIvfIndexed(emb.where(col("label") === 0),
        Similarity.loadIndex(s, "g_knn_ivf_index"), cents, k = 5, nprobe = 4)
    })

  /** Appended to the bench run only — see [[annLshBench]]/[[annIvfBench]]. */
  val benchOnly: Seq[OQ] = Seq(annLshBench, annIvfBench, minhashCappedBench,
    minhashOphBench, semanticBench, bpeBench, pqBench, qualityClf, clusterSample,
    sketchDistinct, phashBench, ivfPqBench, knnJoinIvfBench, knnJoinIvfIndexedBench,
    knnJoinIvfPqBench, knnJoinIvfPqRerankBench, knnJoinIvfPqIndexedBench)
}
