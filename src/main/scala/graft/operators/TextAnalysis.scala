package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Engine._
import graft.QueryPack

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table: token statistics, quality scoring, language-ID
  * (marker-lexicon heuristic), bag-of-words fingerprinting, and character
  * n-gram profiling.
  *
  * These generalize the reference's text surface (`transformer.py:30-189`:
  * clean/summarize/classify are all token- and keyword-level analyses) to
  * corpus-scale operators. Everything here is a narrow map or a single
  * partial+final aggregation — no operator shuffles more than one round,
  * and all expressions are Catalyst built-ins (codegen'd, no UDFs), so the
  * pack scales linearly with document splits at 100 TB.
  *
  * Cross-engine determinism: ratios are computed with one IEEE double
  * division and `round(·, 6)`; token pipelines use only exact integer /
  * string ops. Oracle SQL mirrors each formula term for term.
  */
object TextAnalysis extends QueryPack {

  /** Marker lexicons for the language-ID heuristic. Tiny on purpose: the
    * operator demonstrates weighted marker counting with a deterministic
    * arg-max; swap in real stopword tables for production.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "y"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("shi", "bu", "wo"))

  // -- txt_tokens: token counting ------------------------------------------
  private def txtTokens(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks", "n_chars")
      .selectExpr("doc_id",
        "cast(size(toks) as bigint) AS n_tokens",
        "cast(size(array_distinct(toks)) as bigint) AS n_distinct",
        "n_chars",
        "round(cast(aggregate(toks, 0, (acc, t) -> acc + length(t)) as double)"
          + " / size(toks), 6) AS avg_token_len")
      .orderBy(col("doc_id"))

  private val txtTokensSql =
    """SELECT doc_id, len(toks) AS n_tokens,
      |  len(list_distinct(toks)) AS n_distinct, n_chars,
      |  round(CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
      |        AS DOUBLE) / len(toks), 6) AS avg_token_len
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks, n_chars
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -- txt_quality: heuristic quality scoring --------------------------------
  // score = 0.5 * min(1, n_tokens/100) + 0.5 * (1 - stopword_ratio)
  private def txtQuality(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "cast(size(toks) as bigint) AS n_tokens",
        "size(filter(toks, t -> t = 'the' OR t = 'a')) AS n_stop")
      .selectExpr("doc_id", "n_tokens",
        "round(cast(n_stop as double) / n_tokens, 6) AS stop_ratio",
        "round(0.5 * least(1.0, cast(n_tokens as double) / 100.0)"
          + " + 0.5 * (1.0 - cast(n_stop as double) / n_tokens), 6)"
          + " AS quality_score")
      .orderBy(col("doc_id"))

  private val txtQualitySql =
    """SELECT doc_id, n_tokens,
      |  round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
      |  round(0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
      |        + 0.5 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens), 6)
      |    AS quality_score
      |FROM (SELECT doc_id, len(toks) AS n_tokens,
      |        len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS n_stop
      |      FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |            FROM documents))
      |ORDER BY doc_id""".stripMargin

  // -- txt_langid: marker-lexicon language identification ---------------------
  private def txtLangId(s: SparkSession, dir: String): DataFrame = {
    val scoreCols = langMarkers.map { case (lang, markers) =>
      val cond = markers.map(m => s"t = '$m'").mkString(" OR ")
      s"cast(size(filter(toks, t -> $cond)) as bigint) AS s_$lang"
    }
    val langs = langMarkers.map(_._1)
    val maxAll = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val predicted = langs.map(l => s"WHEN s_$l = $maxAll THEN '$l'")
      .mkString("CASE ", " ", " END")
    table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr(Seq("doc_id") ++ scoreCols: _*)
      .selectExpr(Seq("doc_id") ++ langs.map("s_" + _)
        ++ Seq(s"$predicted AS predicted_lang"): _*)
      .orderBy(col("doc_id"))
  }

  private val txtLangIdSql = {
    val scoreCols = langMarkers.map { case (lang, markers) =>
      val cond = markers.map(m => s"t = '$m'").mkString(" OR ")
      s"len(list_filter(toks, t -> $cond)) AS s_$lang"
    }
    val langs = langMarkers.map(_._1)
    val maxAll = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val predicted = langs.map(l => s"WHEN s_$l = $maxAll THEN '$l'")
      .mkString("CASE ", " ", " END")
    s"""SELECT doc_id, ${langs.map("s_" + _).mkString(", ")},
       |  $predicted AS predicted_lang
       |FROM (SELECT doc_id, ${scoreCols.mkString(", ")}
       |      FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // -- txt_fingerprint: normalized bag-of-words fingerprint --------------------
  // fp = md5(sorted distinct lowercased tokens) — docs that are token-set
  // permutations of each other collide, a cheap canonical-form dedup key.
  private def txtFingerprint(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("doc_id",
        "md5(array_join(array_sort(array_distinct(split(lower(text), ' '))), ' '))"
          + " AS fp")
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("fp"))

  private val txtFingerprintSql =
    """SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
      |FROM (SELECT doc_id,
      |        md5(array_to_string(list_sort(list_distinct(
      |          string_split(lower(text), ' '))), ' ')) AS fp
      |      FROM documents)
      |GROUP BY fp ORDER BY fp""".stripMargin

  // -- txt_rollhash: Rabin-Karp polynomial rolling hash per document ----------
  // h = fold over chars of (acc * 31 + codepoint) mod 1e9+7 — the
  // incremental document fingerprint streaming dedup pipelines maintain
  // (extendable per chunk without re-reading the document). Exact
  // integer fold, identical left-to-right order in both engines.
  private def txtRollhash(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      // CASE guard: empty text would make Spark's sequence(1, 0) descend
      // (same class of bug as the trigram guard); DuckDB's range(1, 1)
      // is empty and folds to the bare init 0
      .selectExpr("doc_id",
        "CASE WHEN length(text) >= 1 THEN"
          + " aggregate(transform(sequence(1, length(text)),"
          + " i -> ascii(substring(text, i, 1))),"
          + " cast(0 as bigint),"
          + " (acc, c) -> (acc * 31 + c) % 1000000007)"
          + " ELSE cast(0 as bigint) END AS rolling_hash")
      .orderBy(col("doc_id"))

  private val txtRollhashSql =
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(text) + 1),
      |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // -- txt_trigrams: top character 3-grams per language ------------------------
  // Extraction is the fused graft_char3grams kernel (one char-offset
  // walk; it replaced an interpreted `transform(sequence(1, len - 2),
  // i -> substring(text, i, 3))` lambda per character — the kernel also
  // subsumes that formulation's short-text guard, emitting [] under 3
  // chars where Spark's descending sequence(1, 0) would emit bogus
  // grams). KernelDifferentialSpec pins kernel == HOF.
  private def txtTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("gram"))
    table(s, dir, "documents")
      .selectExpr("lang", "explode(graft_char3grams(text)) AS gram")
      .groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 10)
      .orderBy(col("lang"), col("rnk"))
  }

  private val txtTrigramsSql =
    """SELECT lang, gram, cnt, rnk FROM (
      |  SELECT lang, gram, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rnk
      |  FROM (
      |    SELECT lang, gram, COUNT(*) AS cnt FROM (
      |      SELECT lang, unnest(list_transform(range(1, length(text) - 1),
      |        i -> substr(text, i, 3))) AS gram
      |      FROM documents)
      |    GROUP BY lang, gram))
      |WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin

  // -- txt_subtokens: BPE-ish regex sub-word tokenization ---------------------
  // Letter runs / digit runs / single other chars — the pre-tokenization
  // regex shape BPE vocabularies assume. The three alternatives are
  // disjoint character classes, so Java-regex (leftmost-first) and
  // DuckDB's RE2 tokenize identically.
  private val subtokenRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  private def txtSubtokens(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("doc_id",
        s"regexp_extract_all(lower(text), '$subtokenRe', 0) AS subs")
      .selectExpr("doc_id",
        "cast(size(subs) as bigint) AS n_subtokens",
        "cast(size(filter(subs, x -> x rlike '^[a-z]')) as bigint) AS n_word",
        "cast(size(filter(subs, x -> x rlike '^[0-9]')) as bigint) AS n_number",
        "cast(size(filter(subs, x -> x rlike '^[^a-z0-9]')) as bigint) AS n_punct",
        "round(cast(aggregate(subs, 0, (acc, x) -> acc + length(x))"
          + " as double) / size(subs), 6) AS avg_sub_len")
      .orderBy(col("doc_id"))

  private val txtSubtokensSql =
    s"""SELECT doc_id, len(subs) AS n_subtokens,
       |  len(list_filter(subs, x -> regexp_matches(x, '^[a-z]'))) AS n_word,
       |  len(list_filter(subs, x -> regexp_matches(x, '^[0-9]')))
       |    AS n_number,
       |  len(list_filter(subs, x -> regexp_matches(x, '^[^a-z0-9]')))
       |    AS n_punct,
       |  round(CAST(list_aggregate(list_transform(subs, x -> length(x)),
       |        'sum') AS DOUBLE) / len(subs), 6) AS avg_sub_len
       |FROM (SELECT doc_id,
       |        regexp_extract_all(lower(text), '$subtokenRe') AS subs
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // -- txt_repetition: duplicate-content signals ------------------------------
  // The repetition gate LLM-data pipelines run before training (the
  // Gopher-style "fraction of duplicate n-grams" family): documents
  // whose token or bigram streams repeat heavily are boilerplate or
  // generation loops. distinct_ratio = |distinct tokens| / |tokens|;
  // distinct_bigram_ratio likewise over CONSECUTIVE word bigrams (kept
  // non-distinct here, unlike the dedup shingles — repetition is the
  // signal). Narrow map, exact integer counts, one rounded division —
  // identical arithmetic in both dialects; single-token docs have no
  // bigrams and score 1.0 (no repetition evidence) in both engines.
  private def txtRepetition(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      // sequence(1, 0) descends — guard single-token docs like the
      // trigram/rollhash pipelines
      .selectExpr("doc_id", "toks",
        "CASE WHEN size(toks) >= 2 THEN"
          + " transform(sequence(1, size(toks) - 1),"
          + " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
          + " ELSE cast(array() as array<string>) END AS grams")
      .selectExpr("doc_id",
        "cast(size(toks) as bigint) AS n_tokens",
        "round(cast(size(array_distinct(toks)) as double) / size(toks), 6)"
          + " AS distinct_ratio",
        "CASE WHEN size(grams) = 0 THEN cast(1.0 as double)"
          + " ELSE round(cast(size(array_distinct(grams)) as double)"
          + " / size(grams), 6) END AS distinct_bigram_ratio")
      .orderBy(col("doc_id"))

  private val txtRepetitionSql =
    """SELECT doc_id, len(toks) AS n_tokens,
      |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
      |    AS distinct_ratio,
      |  CASE WHEN len(grams) = 0 THEN CAST(1.0 AS DOUBLE)
      |    ELSE round(CAST(len(list_distinct(grams)) AS DOUBLE)
      |      / len(grams), 6) END AS distinct_bigram_ratio
      |FROM (SELECT doc_id, toks,
      |        list_transform(range(1, len(toks)),
      |          i -> toks[i] || ' ' || toks[i + 1]) AS grams
      |      FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |            FROM documents))
      |ORDER BY doc_id""".stripMargin

  // -- txt_redact: PII scrubbing ----------------------------------------------
  // The redaction pass training pipelines run before any text ships:
  // emails and IPv4 literals are replaced by regex (patterns written
  // with [.] instead of \. so the literal parses identically under
  // Spark's backslash-escaping SQL strings and DuckDB's standard SQL
  // strings, and leftmost-longest vs leftmost-first cannot differ on
  // them), and a denylisted term is scrubbed TOKEN-level (split ->
  // transform -> join) rather than by word-boundary regex — '\b' isn't
  // needed, and adjacent occurrences can't partially survive the way
  // they do under a space-delimited regex replace. Narrow map; only
  // counts and a digest of the redacted text flow downstream.
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  private val ipv4Re = "[0-9]{1,3}([.][0-9]{1,3}){3}"
  private val denyTerm = "customer"

  private def txtRedact(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("doc_id", "text",
        s"cast(regexp_count(text, '$emailRe') as bigint) AS n_emails",
        s"cast(regexp_count(text, '$ipv4Re') as bigint) AS n_ips",
        s"cast(size(filter(split(text, ' '), t -> t = '$denyTerm'))"
          + " as bigint) AS n_terms")
      .selectExpr("doc_id", "n_emails", "n_ips", "n_terms",
        s"""regexp_replace(regexp_replace(
           |  array_join(transform(split(text, ' '),
           |    t -> CASE WHEN t = '$denyTerm' THEN '[TERM]' ELSE t END), ' '),
           |  '$emailRe', '[EMAIL]'), '$ipv4Re', '[IP]')
           |  AS redacted""".stripMargin)
      .selectExpr("doc_id", "n_emails", "n_ips", "n_terms",
        "cast(length(redacted) as bigint) AS n_chars_redacted",
        "md5(redacted) AS redacted_hash")
      .orderBy(col("doc_id"))

  private val txtRedactSql =
    s"""SELECT doc_id, n_emails, n_ips, n_terms,
       |  length(redacted) AS n_chars_redacted, md5(redacted) AS redacted_hash
       |FROM (
       |  SELECT doc_id,
       |    len(regexp_extract_all(text, '$emailRe')) AS n_emails,
       |    len(regexp_extract_all(text, '$ipv4Re')) AS n_ips,
       |    len(list_filter(string_split(text, ' '), t -> t = '$denyTerm'))
       |      AS n_terms,
       |    regexp_replace(regexp_replace(
       |      array_to_string(list_transform(string_split(text, ' '),
       |        t -> CASE WHEN t = '$denyTerm' THEN '[TERM]' ELSE t END), ' '),
       |      '$emailRe', '[EMAIL]', 'g'), '$ipv4Re', '[IP]', 'g') AS redacted
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // -- txt_stratified_sample: deterministic per-language subsampling ----------
  // Corpus curation's sampling step without RNG state: order each
  // language's documents by an md5 hash of their id (a reproducible
  // pseudo-random permutation any engine can replay) and keep the first
  // 20. Partitioned window — parallel across strata, no global sort.
  private def txtStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("hk"), col("doc_id"))
    table(s, dir, "documents")
      .selectExpr("lang", "doc_id", "md5(cast(doc_id as string)) AS hk")
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("doc_id"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  private val txtStratifiedSampleSql =
    """SELECT lang, doc_id, rn FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin

  // -- txt_cdc_chunks: content-defined chunking -------------------------------
  // The storage/delta-dedup primitive (the rsync/LBFS/FastCDC family):
  // chunk boundaries are set by CONTENT — a position ends a chunk when
  // the hash of its 4-char window is ≡ 0 mod 64 — so an insertion early
  // in a document only reshuffles the chunks it touches, and identical
  // passages chunk identically across documents (716 duplicate chunk
  // digests on this corpus at sf0.01: the chunk-store dedup win).
  // Average chunk ≈ 64 chars by construction of the modulus.
  // One narrow per-document pass: the boundary scan is the fused
  // graft_cdc_ends kernel (one byte-offset walk + one MessageDigest per
  // window; it replaced the original HOF formulation
  // `array_sort(array_distinct(concat(filter(transform(sequence(1,n-3),
  // i -> ... graft_h32(substring(text,i,4)) % 64 = 0 ...)), array(n))))`
  // which paid an interpreted lambda eval and a substring allocation per
  // character — 3.9 s -> ~1.0 s at sf0.1; KernelDifferentialSpec pins
  // kernel == HOF on the corpus). Chunk rows explode with their index,
  // and only (doc_id, idx, start, len, digest) flow on — never the text.
  private def txtCdcChunks(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "documents")
      .selectExpr("doc_id", "text", "length(text) AS n")
      .filter("n >= 1")
      .selectExpr("doc_id", "text", "graft_cdc_ends(text) AS ends")
      .selectExpr("doc_id", "text", "ends",
        "posexplode(ends) AS (pidx, e)")
      .selectExpr("doc_id", "text", "e",
        "cast(pidx + 1 as bigint) AS chunk_idx",
        "CASE WHEN pidx = 0 THEN 1" +
          " ELSE element_at(ends, pidx) + 1 END AS start")
      .selectExpr("doc_id", "chunk_idx", "cast(start as bigint) AS start",
        "cast(e - start + 1 as bigint) AS len",
        "md5(substring(text, start, e - start + 1)) AS digest")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val txtCdcChunksSql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE length(text) >= 1),
      |b AS (
      |  SELECT doc_id, text,
      |    list_sort(list_distinct(list_concat(
      |      CASE WHEN n >= 4 THEN
      |        list_filter(list_transform(range(1, n - 2),
      |          i -> CASE WHEN CAST('0x' || substr(md5(substr(text, i, 4)),
      |                 1, 8) AS BIGINT) % 64 = 0
      |               THEN i + 3 END), x -> x IS NOT NULL)
      |      ELSE [] END,
      |      [n]))) AS ends
      |  FROM d),
      |u AS (
      |  SELECT doc_id, text, ends,
      |    unnest(range(1, len(ends) + 1)) AS idx,
      |    unnest(ends) AS e
      |  FROM b)
      |SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx,
      |  CAST(CASE WHEN idx = 1 THEN 1 ELSE ends[idx - 1] + 1 END
      |    AS BIGINT) AS start,
      |  CAST(e - (CASE WHEN idx = 1 THEN 1 ELSE ends[idx - 1] + 1 END) + 1
      |    AS BIGINT) AS len,
      |  md5(substr(text,
      |    CASE WHEN idx = 1 THEN 1 ELSE ends[idx - 1] + 1 END,
      |    e - (CASE WHEN idx = 1 THEN 1 ELSE ends[idx - 1] + 1 END) + 1))
      |    AS digest
      |FROM u ORDER BY doc_id, chunk_idx""".stripMargin

  // -- txt_corpus_stats: the data-card rollup ---------------------------------
  // The summary table published next to a released corpus (per-source,
  // per-source×lang, and corpus-total doc/token/char counts, exact
  // distinct-text cardinality, and mean tokens/doc): one GROUPING SETS
  // aggregation, so Spark computes the whole lattice in a single
  // shuffle with partial aggregation (the same q32 pattern, over the
  // documents table). The duplicate count falls out as
  // n_docs − n_unique_texts. Mean tokens/doc is exact integer
  // fixed-point ((Σtok·10⁴) div n — truncating division matches
  // DuckDB's // on positives), so no float crosses engines.
  private def txtCorpusStats(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("source", "lang", "md5(text) AS th", "n_chars",
        "cast(size(split(text, ' ')) as bigint) AS tok")
      .groupingSets(
        Seq(Seq(col("source"), col("lang")), Seq(col("source")), Seq()),
        col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"),
        sum("n_chars").as("sum_chars"),
        countDistinct(col("th")).as("n_unique_texts"))
      .selectExpr("coalesce(source, 'ALL') AS source",
        "coalesce(lang, 'ALL') AS lang",
        "n_docs", "n_tokens", "sum_chars", "n_unique_texts",
        "n_docs - n_unique_texts AS n_dup_docs",
        "(n_tokens * 10000) div n_docs AS avg_tok_m4")
      .orderBy(col("source"), col("lang"))

  private val txtCorpusStatsSql =
    """SELECT COALESCE(source, 'ALL') AS source,
      |  COALESCE(lang, 'ALL') AS lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(COUNT(DISTINCT th) AS BIGINT) AS n_unique_texts,
      |  CAST(COUNT(*) - COUNT(DISTINCT th) AS BIGINT) AS n_dup_docs,
      |  (CAST(SUM(tok) AS BIGINT) * 10000) // COUNT(*) AS avg_tok_m4
      |FROM (SELECT source, lang, md5(text) AS th, n_chars,
      |        len(string_split(text, ' ')) AS tok
      |      FROM documents)
      |GROUP BY GROUPING SETS ((source, lang), (source), ())
      |ORDER BY source, lang""".stripMargin

  // -- txt_shuffle_shard: deterministic global shuffle into training shards ---
  // The last mile before training: the curated corpus must land in N
  // shard files in a pseudo-random order that is REPRODUCIBLE (so a
  // rerun, a resumed job, and a different cluster layout all produce
  // byte-identical shards). Randomness = the md5 keyed hash of doc_id:
  // shard = first-8-hex-digits mod N, position = rank of the full hash
  // within the shard. One narrow map + one window partitioned BY SHARD —
  // no global sort, no driver involvement; writing with
  // partitionBy(shard) + sortWithinPartitions(pos) lands the files
  // directly. N = 16 here; production uses thousands (the per-shard
  // window cost is corpus/N per partition either way).
  private val Shards = 16
  private def txtShuffleShard(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("hk"), col("doc_id"))
    table(s, dir, "documents")
      .selectExpr("doc_id", "md5(cast(doc_id as string)) AS hk")
      .selectExpr("doc_id", "hk",
        s"cast(conv(substring(hk, 1, 8), 16, 10) as bigint)"
          + s" % $Shards AS shard")
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  private val txtShuffleShardSql =
    s"""SELECT doc_id, shard, pos FROM (
       |  SELECT doc_id, shard,
       |    CAST(row_number() OVER (PARTITION BY shard
       |      ORDER BY hk, doc_id) AS BIGINT) AS pos
       |  FROM (SELECT doc_id, hk,
       |          CAST('0x' || substr(hk, 1, 8) AS BIGINT)
       |            % $Shards AS shard
       |        FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk
       |              FROM documents)))
       |ORDER BY shard, pos""".stripMargin

  // -- txt_mixture: domain-mixture resampling ---------------------------------
  // Training corpora are MIXED to target domain proportions (the
  // data-mixture step every LLM pipeline runs after curation): each
  // source domain contributes a weighted share of a downsampled total,
  // chosen DETERMINISTICALLY so reruns and engines agree row-for-row.
  // Weights here derive from the source id (w = sid % 4 + 1 — the
  // fixture stand-in for a config map of per-domain weights); the
  // sample target is a quarter of the corpus. desired_n per source is
  // exact integer arithmetic on the per-source count table; membership
  // is rank-by-md5 inside each source (same keyed-uniform trick as
  // txt_stratified_sample), so the sample is reproducible under
  // any partitioning and adding a document only ever displaces one.
  //
  // Scale shape: one map-side-combining count per source, windows over
  // the per-source table only (bounded by |domains|, broadcast back),
  // and ONE doc-side window partitioned by source — no global sort, no
  // driver round-trip. The DuckDB oracle restates the arithmetic.
  /** ONE implementation for both weighted source mixtures
    * (txt_mixture's fixed config weights, txt_temperature_mix's
    * distribution-derived sqrt weights): the desired_n arithmetic,
    * the rank-by-md5 membership, and the windows are identical —
    * only the integer weight expression differs, so it is the one
    * parameter (the pre-r20 copies were 40 lines apart and a change
    * to the sample_total divisor or tie-break had four places to
    * miss).
    */
  private def weightedMixture(s: SparkSession, dir: String,
                              weightExpr: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .selectExpr("doc_id", "source",
        "md5(cast(doc_id as string)) AS hk")
    val rates = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
      .withColumn("w", expr(weightExpr))
      .withColumn("sample_total", expr("sum(cnt) OVER () div 4"))
      .withColumn("wsum", expr("sum(w) OVER ()"))
      .withColumn("desired_n",
        expr("least(cnt, (sample_total * w) div wsum)"))
      .select("source", "desired_n")
    val wSrc = Window.partitionBy("source")
      .orderBy(col("hk"), col("doc_id"))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("rn", row_number().over(wSrc).cast("bigint"))
      .filter(col("rn") <= col("desired_n"))
      .select("source", "doc_id", "rn", "desired_n")
      .orderBy(col("source"), col("rn"))
  }

  /** The oracle template for [[weightedMixture]], weight-parameterized
    * the same way (DuckDB spelling of the weight over the per-source
    * `cnt`).
    */
  private def weightedMixtureSql(duckWeight: String): String =
    s"""WITH d AS (SELECT doc_id, source,
      |             md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
      |r AS (
      |  SELECT source,
      |    least(cnt, (sample_total * w) // wsum) AS desired_n
      |  FROM (SELECT source, cnt, w,
      |          CAST(SUM(cnt) OVER () AS BIGINT) // 4 AS sample_total,
      |          CAST(SUM(w) OVER () AS BIGINT) AS wsum
      |        FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
      |                $duckWeight AS w
      |              FROM d GROUP BY source)))
      |SELECT source, doc_id, rn, desired_n FROM (
      |  SELECT d.source, d.doc_id, r.desired_n,
      |    CAST(row_number() OVER (PARTITION BY d.source
      |      ORDER BY d.hk, d.doc_id) AS BIGINT) AS rn
      |  FROM d JOIN r ON d.source = r.source)
      |WHERE rn <= desired_n
      |ORDER BY source, rn""".stripMargin

  private def txtMixture(s: SparkSession, dir: String): DataFrame =
    weightedMixture(s, dir,
      "cast(substring(source, 4) as bigint) % 4 + 1")

  private val txtMixtureSql = weightedMixtureSql(
    "CAST(substr(source, 4) AS BIGINT) % 4 + 1")

  // -- txt_temperature_mix: temperature-scaled source sampling ----------------
  // The multilingual/domain balancing step from mT5/XLM-R: sample source
  // i with probability ∝ p_i^τ (τ<1 upsamples small sources relative to
  // their share). τ = 0.5 here, which makes the weight sqrt(cnt) — and
  // IEEE sqrt is correctly rounded, so floor(sqrt(cnt)) is bit-identical
  // in Spark and DuckDB and the whole rate computation stays in exact
  // integer arithmetic (same desired_n/rank-by-md5 machinery as
  // txt_mixture, which this complements: fixed config weights there,
  // distribution-derived temperature weights here). Membership is
  // rank-by-keyed-md5 inside each source, reproducible under any
  // partitioning.
  // Scale shape: identical to txt_mixture — per-source count (map-side
  // combine), windows over the |sources|-sized table only, one
  // source-partitioned doc window, broadcast rate join.
  private def txtTemperatureMix(s: SparkSession, dir: String): DataFrame =
    weightedMixture(s, dir,
      "cast(floor(sqrt(cast(cnt as double))) as bigint)")

  private val txtTemperatureMixSql = weightedMixtureSql(
    "CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)")

  // -- txt_budget_select: token-budget curation -------------------------------
  // The final act of a curation pipeline: given a token BUDGET (here
  // half the corpus), keep the highest-quality documents whose
  // cumulative token count fits. The naive formulation is a running sum
  // over the corpus globally ordered by quality — a single-partition
  // window that cannot scale. This implements the same EXACT selection
  // in the shape a 100 TB run needs:
  //   1. quantize quality to integer micro-units (score_u in [0, 1e6],
  //      bounded cardinality by construction);
  //   2. aggregate tokens PER (SCORE, SUB-BUCKET) — one
  //      map-side-combining shuffle, at most (1e6+1)·B rows regardless
  //      of corpus size — then roll up PER SCORE (≤ 1e6+1 rows);
  //   3. SUB-BUCKET every score by `doc_id % B` before any per-doc
  //      window: real corpora concentrate quality (every 100+-token
  //      stopword-free doc quantizes to score_u = 1,000,000), so a
  //      window partitioned by score alone would put ~the whole corpus
  //      in one task. With B sub-buckets the largest window partition
  //      is (largest score class)/B — B is a constant shared with the
  //      oracle here; production sets it ≈ total cores;
  //   4. the prefix sum is two-level: an exclusive per-score prefix
  //      over the tiny per-score table (the only unpartitioned window,
  //      and it runs on ≤ 1e6+1 aggregate rows, not documents — same
  //      bounded-small-table argument as sim_kmeans' centroid table),
  //      plus an exclusive per-bucket prefix WITHIN each score (a
  //      score-partitioned window over ≤ B rows per score);
  //   5. each document learns its selection position from a BROADCAST
  //      join on (score_u, bkt) plus a window partitioned by
  //      (score_u, bkt): cum = tokens of all strictly-better scores
  //      + earlier buckets of its own score + the doc_id-ordered
  //      running sum inside its own (score, bucket). Past the
  //      broadcast threshold (worst case (1e6+1)·B rows) drop the
  //      hint and let AQE shuffle the equi-join.
  // The DuckDB oracle is the INDEPENDENT naive formulation (one global
  // window over `ORDER BY score_u DESC, bkt, doc_id`), so the
  // hash-compare proves the two-phase decomposition exact, not just
  // plausible. The deterministic total order ties break by
  // (bucket, doc_id) within a score — any total order is a valid
  // budget-selection policy; this one is reproducible in both engines.
  // All budget arithmetic is bigint; score quantization is the m4-style
  // floor(x * 1e6 + 0.5) on IEEE ops mirrored term-for-term.
  private[graft] val BudgetSelectBuckets = 64
  private def txtBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "cast(size(toks) as bigint) AS tok",
        "size(filter(toks, t -> t = 'the' OR t = 'a')) AS n_stop")
      .selectExpr("doc_id", "tok",
        "cast(floor((0.5 * least(1.0, cast(tok as double) / 100.0)"
          + " + 0.5 * (1.0 - cast(n_stop as double) / tok))"
          + " * 1000000.0 + 0.5) as bigint) AS score_u",
        s"cast(doc_id % $BudgetSelectBuckets as bigint) AS bkt")
    val perBkt = docs.groupBy("score_u", "bkt")
      .agg(sum("tok").as("b_tok"))
    val perScore = perBkt.groupBy("score_u")
      .agg(sum("b_tok").as("s_tok"))
    val wCum = Window.orderBy(col("score_u").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(lit(0))
    val scoreCum = perScore
      .withColumn("score_before", coalesce(sum("s_tok").over(wCum), lit(0L)))
      // div, not "/": Column./ on longs goes through DOUBLE, whose
      // 53-bit mantissa diverges from the oracle's exact // 2 once the
      // corpus total passes ~9e15 tokens — the block's all-bigint
      // contract holds only with integer division end-to-end
      .withColumn("s_tok_total", sum("s_tok").over(wAll))
      .withColumn("budget", expr("s_tok_total div 2"))
      .select("score_u", "score_before", "budget")
    val wBkt = Window.partitionBy("score_u").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktCum = perBkt
      .withColumn("bkt_before", coalesce(sum("b_tok").over(wBkt), lit(0L)))
      .join(scoreCum, Seq("score_u"))
      .withColumn("cum_before", col("score_before") + col("bkt_before"))
      .select("score_u", "bkt", "cum_before", "budget")
    val wDoc = Window.partitionBy("score_u", "bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(bktCum), Seq("score_u", "bkt"))
      .withColumn("cum", col("cum_before") + sum("tok").over(wDoc))
      .filter(col("cum") <= col("budget"))
      .select("doc_id", "score_u", "tok", "cum")
      .orderBy(col("score_u").desc, col("doc_id"))
  }

  private val txtBudgetSelectSql =
    s"""WITH d AS (
      |  SELECT doc_id, tok,
      |    CAST(floor((0.5 * least(1.0, CAST(tok AS DOUBLE) / 100.0)
      |      + 0.5 * (1.0 - CAST(n_stop AS DOUBLE) / tok))
      |      * 1000000.0 + 0.5) AS BIGINT) AS score_u,
      |    doc_id % $BudgetSelectBuckets AS bkt
      |  FROM (SELECT doc_id, len(toks) AS tok,
      |          len(list_filter(toks, t -> t = 'the' OR t = 'a'))
      |            AS n_stop
      |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |              FROM documents))),
      |t AS (SELECT CAST(SUM(tok) AS BIGINT) // 2 AS budget FROM d)
      |SELECT doc_id, score_u, tok, cum FROM (
      |  SELECT doc_id, score_u, tok,
      |    CAST(SUM(tok) OVER (ORDER BY score_u DESC, bkt, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum
      |  FROM d), t
      |WHERE cum <= budget
      |ORDER BY score_u DESC, doc_id""".stripMargin

  // -- txt_bigram_score: bigram-LM quality scoring ----------------------------
  // The perplexity-proxy filter (CCNet-style) without a trained model:
  // train bigram statistics ON the corpus itself — c12 = count of
  // bigram (w1,w2), c1 = count of bigrams starting with w1 — and score
  // each document by its mean transition probability p(w2|w1) =
  // c12/c1, in exact integer MICRO-PROB units (c12*1e6 div c1; div
  // truncates identically to DuckDB's // on positives) so no float
  // enters the aggregation; boilerplate scores high, token salad low.
  // Scale shape: ONE model pass over the corpus (the bigram count;
  // the unigram-context count c1 = Σ_w2 c12 derives from the
  // vocab-sized bg table without touching the corpus again), then the
  // scoring join. The model tables are bigram-type-sized: bounded by
  // vocab² here, so both joins take an explicit BROADCAST hint — for
  // open-vocabulary natural text bigram types grow with the corpus, so
  // drop the hint past autoBroadcastJoinThreshold and let the scoring
  // join shuffle on w1/w2. c12*1e6 wraps only past 9e12
  // occurrences of one bigram (~petabyte-scale corpora: widen to
  // decimal then). Docs under 2 tokens have no bigrams and are absent
  // by contract.
  /** Shared bigram-LM scorer: (doc_id, n_bigrams, sum_p) in exact integer
    * micro-prob units. Feeds txt_bigram_score (presentation) and
    * txt_ccnet_buckets (per-language tertiles).
    */
  private def bigramScored(s: SparkSession, dir: String): DataFrame = {
    val bgStream = table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .where("size(toks) >= 2")
      .selectExpr("doc_id", "toks",
        "explode(sequence(1, size(toks) - 1)) AS i")
      .selectExpr("doc_id", "element_at(toks, i) AS w1",
        "element_at(toks, i + 1) AS w2")
    val bg = bgStream.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ug = bg.groupBy("w1").agg(sum(col("c12")).as("c1"))
      .withColumnRenamed("w1", "u_w1")
    bgStream
      .join(broadcast(bg), Seq("w1", "w2"))
      .join(broadcast(ug), bgStream("w1") === col("u_w1"))
      .selectExpr("doc_id", "c12 * 1000000 div c1 AS p")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p")).as("sum_p"))
  }

  /** SQL mirror of [[bigramScored]] as a WITH prefix ending in `sc`. */
  private val bigramScoredCtes =
    """WITH bgs AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |              FROM documents)
      |        WHERE len(toks) >= 2)),
      |bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |       FROM bgs GROUP BY w1, w2),
      |ug AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
      |       FROM bgs GROUP BY w1),
      |sc AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(p) AS BIGINT) AS sum_p
      |  FROM (SELECT s.doc_id, (bg.c12 * 1000000) // ug.c1 AS p
      |        FROM bgs s
      |        JOIN bg ON s.w1 = bg.w1 AND s.w2 = bg.w2
      |        JOIN ug ON s.w1 = ug.w1)
      |  GROUP BY doc_id)""".stripMargin

  private def txtBigramScore(s: SparkSession, dir: String): DataFrame =
    bigramScored(s, dir)
      .selectExpr("doc_id", "n_bigrams", "sum_p",
        "round(cast(sum_p as double) / n_bigrams, 6) AS mean_p")
      .orderBy(col("doc_id"))

  private val txtBigramScoreSql =
    s"""$bigramScoredCtes
      |SELECT doc_id, n_bigrams, sum_p,
      |  round(CAST(sum_p AS DOUBLE) / n_bigrams, 6) AS mean_p
      |FROM sc ORDER BY doc_id""".stripMargin

  // -- txt_ccnet_buckets: per-language head/middle/tail quality tertiles ------
  // CCNet's defining curation step (Wenzek et al. 2020): after scoring
  // every document with the LM perplexity proxy, split each LANGUAGE's
  // corpus into equal-thirds head/middle/tail by score rank, so
  // downstream sampling can prefer the head without hand-tuned absolute
  // thresholds (which don't transfer across languages). Bucketing is
  // ntile(3) over an exact-integer micro-mean score (sum_p*1e6 div
  // n_bigrams — div truncates identically to DuckDB's //), doc_id as
  // total tiebreak, so tile boundaries cannot diverge between engines
  // (same trick as q34_ntile). Docs under 2 tokens have no score and
  // are absent by contract, as in txt_bigram_score.
  // Scale shape: the model pass is shared with txt_bigram_score; the
  // bucketing adds one doc_id equi-join (narrow columns only) and one
  // window PARTITIONED BY lang — parallel across languages, never a
  // global sort. Heads-per-language is the analytical contract anyway.
  private def txtCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("micro_mean").desc, col("doc_id"))
    bigramScored(s, dir)
      .join(table(s, dir, "documents").select("doc_id", "lang"), "doc_id")
      .withColumn("micro_mean", expr("sum_p * 1000000 div n_bigrams"))
      .withColumn("bucket", ntile(3).over(w).cast("bigint"))
      .selectExpr("doc_id", "lang",
        "CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' " +
          "ELSE 'tail' END AS bucket",
        "micro_mean")
      .orderBy(col("doc_id"))
  }

  private val txtCcnetBucketsSql =
    s"""$bigramScoredCtes
      |SELECT doc_id, lang,
      |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
      |    AS bucket,
      |  micro_mean
      |FROM (
      |  SELECT sc.doc_id, d.lang,
      |    (sum_p * 1000000) // n_bigrams AS micro_mean,
      |    ntile(3) OVER (PARTITION BY d.lang
      |      ORDER BY (sum_p * 1000000) // n_bigrams DESC, sc.doc_id) AS b
      |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
      |ORDER BY doc_id""".stripMargin

  // -- txt_tfidf: corpus-IDF keyword extraction -------------------------------
  // Top-3 salient terms per document by tf*idf, with idf in exact
  // integer form: idf_ratio = N*1e6 div df (monotone in the classic
  // log(N/df), and log-free so no float enters the ranking). Ties
  // break on token text, so the top-3 window is total-ordered and the
  // hash-compare deterministic. Scale shape: the df model is
  // vocab-sized (broadcast), N is a 1-row scalar (broadcast cross
  // join), the tf pass is one partial+final agg on (doc, token), and
  // the top-k is a PARTITIONED window — no global sort at any size.
  private def txtTfidf(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    val toks = table(s, dir, "documents")
      .selectExpr("doc_id", "explode(split(text, ' ')) AS token")
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // df derives from tf (one row per (doc, token) already) — no second
    // corpus-scale explode+distinct pass
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .withColumnRenamed("token", "df_token")
    val n = table(s, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(df), col("token") === col("df_token"))
      .crossJoin(broadcast(n))
      .selectExpr("doc_id", "token", "tf", "df",
        "tf * ((n_docs * 1000000) div df) AS score")
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"),
        col("df"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  private val txtTfidfSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY doc_id, token),
      |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
      |       FROM (SELECT DISTINCT doc_id, token FROM toks)
      |       GROUP BY token),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
      |SELECT doc_id, rnk, token, tf, df, score FROM (
      |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |    tf.tf * ((n.n_docs * 1000000) // df.df) AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * ((n.n_docs * 1000000) // df.df) DESC,
      |        tf.token) AS rnk
      |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // -- txt_novelty: first-occurrence n-gram attribution -----------------------
  // The dedup-aware contribution score: how much of a document's content
  // is NEW relative to everything before it in corpus order? Every
  // distinct token 8-gram is attributed to the lowest doc_id containing
  // it (deterministic first-occurrence owner); a document's novelty is
  // the fraction of its distinct 8-grams it owns. Boilerplate and
  // near-dup tails score ~0, unique content ~1e6 (micro units, exact
  // integer arithmetic). This is the per-document form of the "new
  // tokens contributed" curves used to decide how many crawl snapshots
  // are worth keeping. Docs under 8 tokens have no 8-grams and are
  // absent by contract (same as txt_decontaminate's gram width).
  //
  // Scale shape: one explode -> per-doc-DISTINCT pass (cached: it feeds
  // both aggregates), then two map-side-combining groupBys — gram->min
  // owner (shuffles gram keys once) and doc->gram count. The novel
  // count per doc is derived from the OWNER table alone (group the
  // min-owner column), so the corpus is never rescanned and no
  // gram-level join back is needed; the final doc-level left join is
  // narrow (three long columns).
  // r22 restructure (same rows, oracle unchanged — guide §2.3/§2.4):
  // a document's DISTINCT gram set is derivable inside its own row,
  // so it is computed map-side by the fused graft_word8grams kernel
  // (first-occurrence-distinct array_join(slice(toks, i, 8))). That
  // removes the old shape's dominant exchange — the explode→DISTINCT
  // shuffle of (doc_id, gram) STRINGS (8.5 MB / ~2.5 CPU-s at sf0.1):
  // grams leave the kernel already distinct per doc, so the strings
  // cross the wire only for the gram→min-owner aggregate that is the
  // query's semantics. n_grams is deliberately still derived from the
  // EXPLODED frame (a map-side-combinable count — NOT size() of the
  // gram array before the explode): the bench's timed action is
  // count(), under which Catalyst eliminates the outer join to
  // `novel` (the aggregate's grouping key is provably unique, so the
  // join is row-preserving) — with a pre-explode n_grams the
  // count()-surviving subtree would be a bare documents scan and the
  // bench would stop measuring this query's work at all (measured:
  // one 0.2-CPU stage). The exploded frame is cached: both aggregates
  // scan it (the uncached-twice gotcha).
  private def txtNovelty(s: SparkSession, dir: String): DataFrame = {
    val grams = table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .where("size(toks) >= 8")
      .selectExpr("doc_id", "explode(graft_word8grams(toks)) AS gram")
      .cache()
    val novel = grams.groupBy("gram").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_grams",
        "coalesce(n_novel, bigint(0)) AS n_novel",
        "coalesce(n_novel, bigint(0)) * 1000000 div n_grams" +
          " AS novelty_micro")
      .orderBy(col("doc_id"))
  }

  private val txtNoveltySql =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |              FROM documents)
      |        WHERE len(toks) >= 8)),
      |nov AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
      |  FROM (SELECT gram, MIN(doc_id) AS doc_id FROM g GROUP BY gram)
      |  GROUP BY doc_id),
      |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
      |        FROM g GROUP BY doc_id)
      |SELECT tot.doc_id, n_grams,
      |  COALESCE(n_novel, 0) AS n_novel,
      |  (COALESCE(n_novel, 0) * 1000000) // n_grams AS novelty_micro
      |FROM tot LEFT JOIN nov ON tot.doc_id = nov.doc_id
      |ORDER BY tot.doc_id""".stripMargin

  // -- txt_pack: greedy sequence packing for pretraining batches --------------
  // Assigns documents to fixed-budget training sequences (512 tokens):
  // within a shard, documents are laid out in hash order and pack_id is
  // the 512-token bin their START offset falls in — the running-sum
  // formulation of greedy packing. Sharding by the first md5 hex digit
  // keeps the window PARTITIONED (16-way parallel cumulative sums, no
  // global sort); at 100 TB raise the shard fan-out, the shape is
  // unchanged. Exact integer arithmetic end to end.
  private def txtPack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "documents")
      .selectExpr("doc_id",
        "cast(size(split(text, ' ')) as bigint) AS n_toks",
        "md5(cast(doc_id as string)) AS hk")
      .withColumn("shard", expr("substring(hk, 1, 1)"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .selectExpr("shard", "doc_id", "n_toks",
        "(cum - n_toks) div 512 AS pack_id")
      .orderBy(col("doc_id"))
  }

  private val txtPackSql =
    """SELECT shard, doc_id, n_toks, (cum - n_toks) // 512 AS pack_id FROM (
      |  SELECT shard, doc_id, n_toks,
      |    CAST(SUM(n_toks) OVER (PARTITION BY shard ORDER BY hk, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM (
      |    SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
      |      md5(CAST(doc_id AS VARCHAR)) AS hk,
      |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin

  // -- txt_decontaminate: eval-set n-gram contamination flags -----------------
  // Benchmark decontamination as run before pretraining (the GPT-3 appendix
  // procedure): a document is contaminated when it shares any token 8-gram
  // with the held-out eval set. The eval set here is the deterministic
  // doc_id % 50 == 0 slice (a stand-in for a real benchmark table — swap
  // the filter for a join against one).
  //
  // Scale shape: the eval side collapses to a DISTINCT 8-gram set that is
  // broadcast (eval suites are KBs-to-MBs against a 100 TB corpus), so the
  // corpus is one narrow explode -> broadcast-hash semi pass with no
  // corpus-wide shuffle; only the (rare) hits reach the per-doc count
  // aggregate, and the final hit-count join is left to AQE, which
  // broadcasts it when it is as small as hits usually are.
  private val ContamN = 8

  private def contamGrams(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        s"CASE WHEN size(toks) >= $ContamN THEN" +
          s" array_distinct(transform(sequence(1, size(toks) - ${ContamN - 1})," +
          s" i -> array_join(slice(toks, i, $ContamN), ' ')))" +
          " ELSE cast(array() as array<string>) END AS grams")

  private def txtDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = contamGrams(s, dir)
    val evalGrams = grams.where(col("doc_id") % 50 === 0)
      .selectExpr("explode(grams) AS gram").distinct()
    // grams are distinct per doc and eval grams are distinct, so the join
    // output is unique per (doc, gram) and a plain count is the distinct
    // matched-gram count
    val hits = grams.where(col("doc_id") % 50 =!= 0)
      .selectExpr("doc_id", "explode(grams) AS gram")
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    table(s, dir, "documents").where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "cast(coalesce(n_hits, 0) as bigint) AS n_eval_grams",
        "coalesce(n_hits, 0) > 0 AS contaminated")
      .orderBy(col("doc_id"))
  }

  private val txtDecontaminateSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |g AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, len(toks) - 6),
      |          i -> array_to_string(list_slice(toks, i, i + 7), ' ')))
      |          AS grams
      |      FROM t),
      |ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g
      |       WHERE doc_id % 50 = 0),
      |hits AS (
      |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g
      |        WHERE doc_id % 50 <> 0) c
      |  JOIN ev USING (gram) GROUP BY c.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_eval_grams,
      |  coalesce(h.n_hits, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 50 <> 0
      |ORDER BY d.doc_id""".stripMargin

  // -- txt_winnow: winnowing document fingerprints ----------------------------
  // Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003): hash every
  // character 5-gram, then keep the minimum hash of each sliding window of
  // 4 consecutive hashes. Guarantees a match for any shared substring of
  // length >= k + w - 1 = 8 while storing ~2/(w+1) of the hashes — the
  // plagiarism/overlap fingerprint MOSS uses. One narrow per-document HOF
  // pass, no shuffle; the fingerprint arrays are what a downstream
  // inverted-index join would bucket on.
  private def txtWinnow(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "documents")
      .selectExpr("doc_id",
        "CASE WHEN length(text) >= 8 THEN" +
          // fused kernels end to end: one char-offset walk extracts all
          // 5-grams, one digest per position hashes them — no
          // interpreted per-position lambda, no hex-string round-trip
          // (value-identical to the oracle's '0x' || substr(md5(..), 1,
          // 8) parse)
          " graft_h32a(graft_char5grams(text))" +
          " ELSE cast(array() as array<bigint>) END AS hs")
      .selectExpr("doc_id",
        "CASE WHEN size(hs) >= 4 THEN" +
          " array_sort(array_distinct(transform(sequence(1, size(hs) - 3)," +
          " i -> array_min(slice(hs, i, 4)))))" +
          " ELSE cast(array() as array<bigint>) END AS fps")
      // The comparator (pandas) cannot sort array cells, so flatten the
      // fingerprint set to a canonical comma-joined string; arithmetic above
      // is untouched and a downstream join would consume `fps` pre-join.
      .selectExpr("doc_id", "cast(size(fps) as bigint) AS n_fps",
        "array_join(fps, ',') AS fps")
      .orderBy(col("doc_id"))
  }

  private val txtWinnowSql =
    """SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
      |  array_to_string(fps, ',') AS fps FROM (
      |  SELECT doc_id,
      |    list_sort(list_distinct(list_transform(range(1, len(hs) - 2),
      |      i -> list_min(list_slice(hs, i, i + 3))))) AS fps
      |  FROM (
      |    SELECT doc_id,
      |      list_transform(range(1, length(text) - 3),
      |        i -> CAST('0x' || substr(md5(substr(text, i, 5)), 1, 8)
      |             AS BIGINT)) AS hs
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "txt_decontaminate" -> txtDecontaminate _,
      "txt_winnow" -> txtWinnow _,
      "txt_redact" -> txtRedact _,
      "txt_tfidf" -> txtTfidf _,
      "txt_bigram_score" -> txtBigramScore _,
      "txt_ccnet_buckets" -> txtCcnetBuckets _,
      "txt_novelty" -> txtNovelty _,
      "txt_repetition" -> txtRepetition _,
      "txt_budget_select" -> txtBudgetSelect _,
      "txt_mixture" -> txtMixture _,
      "txt_temperature_mix" -> txtTemperatureMix _,
      "txt_shuffle_shard" -> txtShuffleShard _,
      "txt_corpus_stats" -> txtCorpusStats _,
      "txt_cdc_chunks" -> txtCdcChunks _,
      "txt_stratified_sample" -> txtStratifiedSample _,
      "txt_pack" -> txtPack _,
      "txt_subtokens" -> txtSubtokens _,
      "txt_tokens" -> txtTokens _,
      "txt_quality" -> txtQuality _,
      "txt_langid" -> txtLangId _,
      "txt_fingerprint" -> txtFingerprint _,
      "txt_rollhash" -> txtRollhash _,
      "txt_trigrams" -> txtTrigrams _
    )

  override val oracles: Map[String, String] = Map(
    "txt_decontaminate" -> txtDecontaminateSql,
    "txt_winnow" -> txtWinnowSql,
    "txt_redact" -> txtRedactSql,
    "txt_tfidf" -> txtTfidfSql,
    "txt_bigram_score" -> txtBigramScoreSql,
    "txt_ccnet_buckets" -> txtCcnetBucketsSql,
    "txt_novelty" -> txtNoveltySql,
    "txt_repetition" -> txtRepetitionSql,
    "txt_budget_select" -> txtBudgetSelectSql,
    "txt_mixture" -> txtMixtureSql,
    "txt_temperature_mix" -> txtTemperatureMixSql,
    "txt_shuffle_shard" -> txtShuffleShardSql,
    "txt_corpus_stats" -> txtCorpusStatsSql,
    "txt_cdc_chunks" -> txtCdcChunksSql,
    "txt_stratified_sample" -> txtStratifiedSampleSql,
    "txt_pack" -> txtPackSql,
    "txt_subtokens" -> txtSubtokensSql,
    "txt_tokens" -> txtTokensSql,
    "txt_quality" -> txtQualitySql,
    "txt_langid" -> txtLangIdSql,
    "txt_fingerprint" -> txtFingerprintSql,
    "txt_rollhash" -> txtRollhashSql,
    "txt_trigrams" -> txtTrigramsSql
  )
}
