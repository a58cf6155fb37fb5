package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.io.Tables

/** LLM-training-data pipeline operators over the `documents` table (driver
  * north-star extension; no reference-repo counterpart — the reference stops
  * at relational/KV/document queries, cites in SURVEY.md §7.3 item 8).
  *
  * Design rules applied throughout:
  *
  *  - **Deterministic cross-engine hashing.** Everything the DuckDB oracle
  *    must replay uses `portable hash` = first 15 hex chars of md5 parsed as
  *    a long (< 2^60, no sign issues). md5 is bit-identical in Spark and
  *    DuckDB, so MinHash signatures and SimHash fingerprints are exactly
  *    oracle-checkable — not just "rows > 0".
  *  - **No all-pairs joins in the engine path.** The exact similarity join
  *    uses prefix filtering (the AllPairs/PPJoin bound: two sets with
  *    Jaccard ≥ t must share a token among each one's rarest
  *    `n - ceil(t·n) + 1` tokens under any fixed global token order);
  *    MinHash-LSH buckets by signature bands; SimHash buckets by 8-bit
  *    fingerprint bands. The quadratic form only ever appears in the DuckDB
  *    oracle, which is allowed to be naive. At 100 TB each plan is a
  *    shuffle keyed on (rare shingle | band hash), i.e. candidate buckets,
  *    never the cross product.
  *  - **Integer threshold predicates.** Jaccard ≥ 0.8 is evaluated as
  *    `5·|A∩B| ≥ 4·|A∪B|` on exact ints in both engines, so no float
  *    boundary can flip a row between Spark and the oracle.
  *  - **SimHash banding is exact, not probabilistic**: hamming ≤ 3 over four
  *    8-bit bands means at least one band is identical (pigeonhole), so the
  *    banded join has guaranteed 100% recall and the all-pairs oracle must
  *    agree exactly. MinHash banding (32 perms, 8 bands × 4 rows) is
  *    probabilistic in general (P[miss] ≈ (1-t⁴)⁸ ≈ 1.5% at t=0.8) but the
  *    planted near-dups in this corpus sit at J ≥ 0.9 where P[miss] < 1e-4;
  *    recall is asserted against the exact join in LlmTextOpsSpec.
  */
object LlmTextOps {

  /** Cross-engine deterministic 60-bit hash (see class doc). DuckDB
    * equivalent: `('0x' || substr(md5(x),1,15))::BIGINT`. Evaluated by the
    * native [[graft.functions.Md5Hash60]] expression — bit-identical to
    * `conv(substring(md5(c),1,15),16,10)` but a single fused digest read,
    * which matters because most call sites sit inside higher-order-function
    * lambdas where every sub-expression evaluates interpreted per element. */
  private[graft] def portableHash(c: Column): Column =
    call_function("md5hash60", c)

  private[graft] def tokens: Column = split($"text", " ")

  /** doc_id + distinct 3-word shingle set (docs with <3 tokens dropped —
    * they have no shingles and can never reach a Jaccard threshold). */
  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    docShinglesOf(Tables.documents(spark, dir))

  /** The shingle-set projection over any (doc_id, text) frame — shared
    * with the streaming ingest-dedup twin. */
  private[graft] def docShinglesOf(documents: DataFrame): DataFrame =
    documents
      .select($"doc_id", tokens.as("ts"))
      .filter(size($"ts") >= 3)
      .select($"doc_id",
        array_distinct(transform(sequence(lit(0), size($"ts") - 3),
          i => concat_ws(" ", slice($"ts", i + 1, lit(3))))).as("sh"))

  /** DuckDB CTE producing the same (doc_id, shingle-set) pairs. */
  private[graft] val shingleCte: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |sh AS (SELECT doc_id,
      |              list_distinct([array_to_string(ts[i:i+2], ' ')
      |                             for i in range(1, len(ts)-1)]) AS s
      |       FROM toks WHERE len(ts) >= 3)""".stripMargin

  // ---------------------------------------------------------------- dedup

  /** Exact dedup: hash-groupBy on the full text (one shuffle keyed on the
    * digest — at 100 TB the shuffled payload is (digest, doc_id), never the
    * text itself). */
  val exactDedup: QueryDef = QueryDef(
    "llm_exact_dedup",
    """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(md5($"text").as("digest"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  /** NORMALIZE-then-hash dedup — the step every production pipeline runs
    * before exact hashing (CCNet/RefinedWeb lowercase+strip conventions):
    * lowercase, strip non-alphanumerics, collapse whitespace, THEN group
    * by digest. Catches the case/punctuation/spacing variants byte-exact
    * dedup calls distinct; `n_raw_variants` counts how many distinct raw
    * byte forms each normalized group collapsed (1 = normalization was a
    * no-op for that group — true for this pre-normalized corpus, which
    * the oracle pins; the planted-variant spec proves the collapse).
    * Same scale shape as [[exactDedup]]: map-only normalization, one
    * digest-keyed shuffle that never moves the text itself. */
  val normDedup: QueryDef = QueryDef(
    "llm_norm_dedup",
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |                               ' +', ' ', 'g'))) AS digest,
      |       min(doc_id) AS keep_id, count(*) AS n_copies,
      |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
  ) { (spark, dir) => normDedupOf(Tables.documents(spark, dir)) }

  /** The [[normDedup]] plan over any (doc_id, text) frame — extracted so
    * the spec can plant case/punctuation variants. */
  private[graft] def normDedupOf(documents: DataFrame): DataFrame =
    documents
      .select($"doc_id", md5($"text").as("raw_digest"),
        md5(trim(regexp_replace(
          regexp_replace(lower($"text"), "[^a-z0-9 ]", ""),
          " +", " "))).as("digest"))
      .groupBy($"digest")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct($"raw_digest").as("n_raw_variants"))
      .orderBy($"keep_id")

  /** Canonical bag-of-words fingerprint: md5 of the sorted distinct token
    * set — catches shuffled-word duplicates that byte-exact dedup misses. */
  val fingerprint: QueryDef = QueryDef(
    "llm_fingerprint",
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
      |       min(doc_id) AS keep_id, count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(md5(concat_ws(" ", array_sort(array_distinct(tokens)))).as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy($"keep_id")
  }

  // ------------------------------------------- winnowing fingerprints

  private[graft] val WinK = 8 // k-gram length (chars)
  private[graft] val WinW = 4 // winnowing window (k-grams)

  /** Winnowing (MOSS-style rolling-hash document fingerprinting): hash every
    * K-char gram, then keep the minimum hash of each W-gram sliding window —
    * the classic guarantee that any shared substring of length ≥ K+W-1
    * yields at least one shared fingerprint. The whole computation is
    * per-document array algebra — gram hashes, window minima, and the
    * distinct fingerprint set are all built inside one projection, so the
    * plan has ZERO shuffle before whatever consumes the fingerprints (the
    * earlier formulation posexploded every gram into a row and paid a
    * per-doc window sort plus a distinct shuffle — a shuffle of ~12× the
    * text volume at corpus scale). The single-element-array `transform`
    * let-binds the hash array so it is computed exactly once per document
    * even after project collapsing. Docs shorter than one full window are
    * excluded. Hashes are the portable 60-bit md5 form, so DuckDB replays
    * the exact pipeline. */
  private[graft] def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    // Round-18 (§4): the gram-hash + window-min + distinct pipeline runs
    // in the native [[graft.functions.WinnowMd5Fps]] expression — one
    // fused linear pass per document with a reused MessageDigest — where
    // the HOF tree (`TextWitnesses.winnowFingerprintsHof` in the test
    // sources, the A/B witness) paid an interpreted md5, a substring
    // allocation and an array re-slice per gram. Same hash, same windows,
    // same distinct order; the oracle CTE is untouched.
    Tables.documents(spark, dir)
      .filter(length($"text") >= WinK + WinW - 1)
      .select($"doc_id",
        explode(call_function("winnow_md5_fps", $"text")).as("fp"))

  /** Shared oracle CTE: same grams, same window min, same completeness
    * guard, in DuckDB. */
  private val winnowCte: String =
    s"""WITH g AS (
       |  SELECT doc_id, i - 1 AS pos, length(text) - ${WinK - 1} AS n_grams,
       |         ('0x' || substr(md5(substr(text, i, $WinK)), 1, 15))::BIGINT AS h
       |  FROM documents, unnest(range(1, length(text) - ${WinK - 1} + 1)) AS t(i)
       |  WHERE length(text) >= ${WinK + WinW - 1}),
       |m AS (
       |  SELECT doc_id, pos, n_grams,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                      ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS fp
       |  FROM g),
       |f AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n_grams - $WinW)""".stripMargin

  /** Per-document winnowing summary (fingerprint count + min). */
  val winnow: QueryDef = QueryDef(
    "llm_winnow",
    winnowCte +
      """
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp, min(fp) AS min_fp
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    winnowFingerprints(spark, dir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fp"), min($"fp").as("min_fp"))
      .orderBy($"doc_id")
  }

  /** Near-dup candidate pairs: docs sharing ≥3 winnowing fingerprints. The
    * join key is the fingerprint — an equi-join, never all-pairs — and
    * ubiquitous fingerprints (>10 docs: boilerplate grams, the stop-word
    * analog) are dropped before the join, the standard frequency cap that
    * keeps the hottest key bounded at corpus scale. */
  val winnowPairs: QueryDef = QueryDef(
    "llm_winnow_pairs",
    winnowCte +
      """,
        |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 10),
        |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2
        |      FROM f a JOIN rare r ON a.fp = r.fp JOIN f b ON a.fp = b.fp
        |      WHERE a.doc_id < b.doc_id)
        |SELECT doc1, doc2, CAST(count(*) AS BIGINT) AS n_shared
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY 1, 2""".stripMargin,
  ) { (spark, dir) => winnowPairsMine(spark, dir).orderBy($"doc1", $"doc2") }

  /** [[winnowPairs]]'s mining body (unordered), extracted so
    * [[dedupConsensus]] can fuse the same pair graph. */
  private def winnowPairsMine(spark: SparkSession, dir: String): DataFrame = {
    // three consumers of the fingerprint set → one persisted materialization
    val f = graft.Caches.persist(winnowFingerprints(spark, dir))
    val rare = f.groupBy($"fp").agg(count(lit(1)).as("nf"))
      .filter($"nf" <= 10).select($"fp")
    val b = f.select($"doc_id".as("doc2"), $"fp".as("fp2"))
    f.select($"doc_id".as("doc1"), $"fp")
      .join(rare, Seq("fp"))
      .join(b, $"fp" === $"fp2" && $"doc1" < $"doc2")
      .groupBy($"doc1", $"doc2")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 3)
  }

  /** DuckDB replay of [[graft.graft.functions.WinnowFps]]'s polynomial gram hash:
    * the identical left fold `h = (h*B + codepoint) mod M`, written out as
    * K nested terms in exact BIGINT arithmetic. */
  private def polyFoldSql(pos: String): String =
    (0 until graft.functions.WinnowFps.K).foldLeft("(0::BIGINT)") { (acc, j) =>
      s"(($acc * ${graft.functions.WinnowFps.B} + unicode(substr(text, $pos + $j, 1))) % ${graft.functions.WinnowFps.M})"
    }

  /** Winnowing via the native expression — same algorithm as `llm_winnow`,
    * different engine path: ONE codegen'd linear pass per document
    * (Rabin-Karp O(1) hash roll + monotonic-deque window min, returning the
    * distinct fingerprint set as an array), where the declarative form pays
    * an interpreted md5 + substring allocation per gram inside its
    * higher-order-function loop. Bench shows the two side by side.
    * The oracle replays the polynomial fold positionally, proving the
    * fused loop computes exactly what the relational algorithm specifies. */
  val winnowNative: QueryDef = QueryDef(
    "llm_winnow_native", {
      val K = graft.functions.WinnowFps.K; val W = graft.functions.WinnowFps.W
      s"""WITH g AS (
         |  SELECT doc_id, i - 1 AS pos, length(text) - ${K - 1} AS n_grams,
         |         ${polyFoldSql("i")} AS h
         |  FROM documents, unnest(range(1, length(text) - ${K - 1} + 1)) AS t(i)
         |  WHERE length(text) >= ${K + W - 1}),
         |m AS (
         |  SELECT doc_id, pos, n_grams,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS fp
         |  FROM g),
         |f AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n_grams - $W)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp, min(fp) AS min_fp
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    },
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select($"doc_id",
        explode(call_function("winnow_fps", $"text")).as("fp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fp"), min($"fp").as("min_fp"))
      .orderBy($"doc_id")
  }

  // ----------------------------------------------------- text analysis

  /** Per-document token statistics (whitespace tokenization). */
  val textStats: QueryDef = QueryDef(
    "llm_textstats",
    """SELECT doc_id,
      |       length(text) AS n_chars_m,
      |       len(string_split(text, ' '))::BIGINT AS n_tokens,
      |       len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq,
      |       round(CAST(list_sum(list_apply(string_split(text, ' '), x -> len(x))) AS DOUBLE)
      |             / len(string_split(text, ' ')), 4) AS avg_tok_len
      |FROM documents ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select($"doc_id", $"text", tokens.as("ts"))
      .select(
        $"doc_id",
        length($"text").cast("long").as("n_chars_m"),
        size($"ts").cast("long").as("n_tokens"),
        size(array_distinct($"ts")).cast("long").as("n_uniq"),
        round(aggregate($"ts", lit(0), (a, x) => a + length(x)).cast("double")
          / size($"ts"), 4).as("avg_tok_len"))
      .orderBy($"doc_id")
  }

  /** Token counting, whitespace vs a BPE-ish regex tokenizer (letter runs,
    * digit runs, single punctuation — the pre-tokenization split BPE
    * vocabularies assume). Both are pure codegen'd expressions; identical
    * regex semantics in DuckDB keep it oracle-exact. */
  val tokenCount: QueryDef = QueryDef(
    "llm_token_count",
    """SELECT doc_id,
      |       len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
      |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(tokens).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all($"text",
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")
          .as("n_bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** Heuristic quality score: length saturation + stopword-density penalty.
    * All inputs to the float math are exact ints and the formula is the same
    * single expression in both engines, so round(…,4) is stable. */
  val quality: QueryDef = QueryDef(
    "llm_quality",
    """SELECT doc_id,
      |       len(string_split(text, ' '))::BIGINT AS n_tokens,
      |       len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and')))::BIGINT AS stop_hits,
      |       round(least(len(string_split(text, ' ')) / 50.0, 1.0) * 0.5
      |             + (1.0 - CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
      |                      / len(string_split(text, ' '))) * 0.5, 4) AS quality
      |FROM documents ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    val stop = Seq("the", "a", "of", "and")
    Tables.documents(spark, dir)
      .select($"doc_id", tokens.as("ts"))
      .select($"doc_id", size($"ts").as("n"),
        size(filter($"ts", t => t.isInCollection(stop))).as("hits"))
      .select(
        $"doc_id",
        $"n".cast("long").as("n_tokens"),
        $"hits".cast("long").as("stop_hits"),
        round(least($"n" / lit(50.0), lit(1.0)) * 0.5
          + (lit(1.0) - $"hits".cast("double") / $"n") * 0.5, 4).as("quality"))
      .orderBy($"doc_id")
  }

  /** Language-ID by character-trigram profile: learn the top-20 trigrams per
    * labeled language from the corpus itself, score each doc by profile
    * overlap, predict argmax (ties broken by language name). The profile is
    * tiny (langs × 20) and broadcast to the scoring join; the gram explode
    * is the only wide stage and is linear in corpus size. */
  /** Shared langid pipeline SQL, ending in the per-doc `out` CTE — reused
    * verbatim by the per-doc query and the confusion-matrix eval. */
  private val langIdCte: String =
    """WITH g AS (SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS g
      |           FROM documents, unnest(range(1, length(text)-1)) AS t(i)
      |           WHERE length(text) >= 3),
      |prof AS (SELECT lang AS p_lang, g FROM (
      |  SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rk
      |  FROM g GROUP BY lang, g) WHERE rk <= 20),
      |dg AS (SELECT DISTINCT doc_id, g FROM g),
      |sc AS (SELECT dg.doc_id, prof.p_lang, count(*) AS hits
      |       FROM dg JOIN prof ON dg.g = prof.g GROUP BY 1, 2),
      |pred AS (SELECT doc_id, p_lang, hits FROM (
      |  SELECT doc_id, p_lang, hits,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, p_lang) AS rk
      |  FROM sc) WHERE rk = 1),
      |out AS (
      |  SELECT d.doc_id, d.lang, coalesce(p.p_lang, '??') AS predicted_lang,
      |         CAST(coalesce(p.hits, 0) AS BIGINT) AS hits
      |  FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id)""".stripMargin

  val langId: QueryDef = QueryDef(
    "llm_langid",
    langIdCte + "\nSELECT doc_id, lang, predicted_lang, hits FROM out ORDER BY doc_id",
  ) { (spark, dir) => langIdOut(spark, dir).orderBy($"doc_id") }

  /** Per-doc langid output (doc_id, lang, predicted_lang, hits), unordered. */
  private def langIdOut(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // grams feed both the profile build and the scoring side — persist for
    // the query (see neardupPlan note on materialized artifacts at scale);
    // registered with Caches so the runner unpersists it after the action
    val grams = graft.Caches.persist(docs.filter(length($"text") >= 3)
      .select($"doc_id", $"lang", $"text",
        explode(sequence(lit(1), length($"text") - 2)).as("i"))
      .select($"doc_id", $"lang", expr("substring(text, i, 3)").as("g")))
    val profile = grams
      .groupBy($"lang", $"g").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy(desc("cnt"), asc("g"))))
      .filter($"rk" <= 20)
      .select($"lang".as("p_lang"), $"g")
    val scores = grams.select($"doc_id", $"g").distinct()
      .join(broadcast(profile), "g")
      .groupBy($"doc_id", $"p_lang").agg(count(lit(1)).as("hits"))
    val pred = scores
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy(desc("hits"), asc("p_lang"))))
      .filter($"rk" === 1)
      .select($"doc_id".as("p_doc"), $"p_lang", $"hits")
    docs.join(pred, docs("doc_id") === pred("p_doc"), "left")
      .select($"doc_id", $"lang",
        coalesce($"p_lang", lit("??")).as("predicted_lang"),
        coalesce($"hits", lit(0L)).as("hits"))
  }

  /** Language-ID confusion matrix: the labeled corpus doubles as the eval
    * set, so the per-doc predictions compress to (actual, predicted, count)
    * cells — the model-quality readout a pipeline watches per ingest batch.
    * Same pipeline as `llm_langid` (shared CTE / shared builder), one extra
    * tiny aggregate on top. */
  val langIdEval: QueryDef = QueryDef(
    "llm_langid_eval",
    langIdCte +
      """
        |SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM out GROUP BY lang, predicted_lang
        |ORDER BY lang, predicted_lang""".stripMargin,
  ) { (spark, dir) =>
    langIdOut(spark, dir)
      .groupBy($"lang", $"predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"predicted_lang")
  }

  /** Exact vocabulary head: top-50 tokens by corpus frequency (ties by
    * token) — the first step of any tokenizer/vocab build. One explode +
    * count shuffle keyed on the token, then a TakeOrdered top-k — never a
    * global sort of the full vocabulary. */
  val vocabTopK: QueryDef = QueryDef(
    "llm_vocab_topk",
    """SELECT w, CAST(count(*) AS BIGINT) AS freq
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w ORDER BY freq DESC, w LIMIT 50""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(explode(tokens).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("w"))
      .limit(50)
  }

  /** Document frequency + smoothed IDF for the corpus vocabulary head:
    * df counts docs containing each token (distinct-per-doc explode, one
    * token-keyed shuffle), idf = ln((N+1)/(df+1)) with the corpus size N
    * broadcast as a 1-row scalar subquery. The log's argument is the same
    * exact rational on both engines and `round(...,6)` guards the last-ulp
    * libm difference. Top-50 by df with token tiebreak → TakeOrdered. */
  val idf: QueryDef = QueryDef(
    "llm_idf",
    """WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |            FROM documents),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT w, CAST(count(*) AS BIGINT) AS df,
      |       round(ln((n.n_docs + 1.0) / (count(*) + 1.0)), 6) AS idf
      |FROM dw, n GROUP BY w, n.n_docs ORDER BY df DESC, w LIMIT 50""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select($"doc_id", explode(array_distinct(tokens)).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .select($"w", $"df",
        round(log(($"n_docs" + 1.0) / ($"df" + 1.0)), 6).as("idf"))
      .orderBy(desc("df"), asc("w"))
      .limit(50)
  }

  /** PMI collocation mining over adjacent-token bigrams — the classic
    * lexical-association statistic (Church & Hanks 1990) behind phrase
    * detection in tokenizer/vocab pipelines (word2vec's phrase pass uses
    * exactly this count ratio). Instead of the float `log₂(p_xy/(p_x·p_y))`
    * we emit the monotone integer core `⌊10⁶·n_xy·N/(c_x·c_y)⌋` (the PMI is
    * its log, so ranking is identical) plus the Dice coefficient in ppm —
    * no transcendental crosses the engine boundary.
    *
    * Scale shape: one doc-keyed window (lead over token position — the
    * tokenize exchange every lexical op shares), then bigram- and
    * unigram-keyed count shuffles, both map-side combinable; unigram counts
    * and the 1-row total re-enter by broadcast (vocab-sized — at web scale
    * still ~10⁶ rows, far under broadcast limits). Top-20 is a TakeOrdered,
    * never a full sort. Long-range: `n·N·10⁶` caps at ~10¹⁷ for N≈10⁸
    * bigrams; beyond that, drop the ppm scale first. */
  val pmiColloc: QueryDef = QueryDef(
    "llm_pmi_colloc",
    """WITH toks AS (
      |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |bg AS (SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM toks),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
      |       FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2),
      |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
      |nn AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM bc)
      |SELECT bc.w1, bc.w2, bc.n, u1.c AS c1, u2.c AS c2,
      |       CAST(bc.n * nn.total * 1000000 // (u1.c * u2.c) AS BIGINT) AS pmi_ratio_ppm,
      |       CAST(2 * bc.n * 1000000 // (u1.c + u2.c) AS BIGINT) AS dice_ppm
      |FROM bc CROSS JOIN nn
      |JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w
      |WHERE bc.n >= 5
      |ORDER BY pmi_ratio_ppm DESC, w1, w2 LIMIT 20""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(tokens).as(Seq("i", "w")))
    val bc = toks
      .select($"w".as("w1"),
        lead($"w", 1).over(Window.partitionBy($"doc_id").orderBy($"i")).as("w2"))
      .filter($"w2".isNotNull)
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("n"))
    val uc = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    val total = bc.agg(sum($"n").as("total"))
    bc.filter($"n" >= 5)
      .crossJoin(broadcast(total))
      .join(broadcast(uc.select($"w".as("w1"), $"c".as("c1"))), "w1")
      .join(broadcast(uc.select($"w".as("w2"), $"c".as("c2"))), "w2")
      .select($"w1", $"w2", $"n", $"c1", $"c2",
        expr("n * total * 1000000 DIV (c1 * c2)").as("pmi_ratio_ppm"),
        expr("2 * n * 1000000 DIV (c1 + c2)").as("dice_ppm"))
      .orderBy($"pmi_ratio_ppm".desc, $"w1", $"w2")
      .limit(20)
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): fraction of
    * the document that is its single most frequent token, and fraction of
    * duplicated 3-grams — the two cheapest filters for the
    * boilerplate/keyword-stuffing documents that survive dedup. The flag
    * applies the Gopher-ish thresholds (top token > 20%, duplicate
    * 3-grams > 30%) as pure integer predicates; the reported fractions are
    * single identical divisions of exact ints on both engines, so they ship
    * unrounded. Per-doc array math only — no shuffle, cost bounded by
    * document length, fully parallel at 100 TB. */
  /** Most-frequent-token count as the longest equal-run of the SORTED
    * token array — a single O(n) fold instead of the oracle's
    * O(n·distinct) count-per-word form (same value by definition; measured
    * ~3× faster on the interpreted higher-order path). Shared by
    * [[repetition]] and [[filterCascade]]. */
  private def topRunCount(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      array_sort(ts),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  val repetition: QueryDef = QueryDef(
    "llm_repetition",
    """SELECT doc_id,
      |       len(ts)::BIGINT AS n_tokens,
      |       top_cnt::BIGINT AS top_cnt,
      |       CAST(top_cnt AS DOUBLE) / len(ts) AS top_frac,
      |       CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE) / len(tri) AS dup_tri_frac,
      |       CAST(CASE WHEN top_cnt * 5 > len(ts)
      |                   OR (len(tri) - len(list_distinct(tri))) * 10 > len(tri) * 3
      |                 THEN 1 ELSE 0 END AS BIGINT) AS flagged
      |FROM (
      |  SELECT doc_id, ts,
      |         list_max([len(list_filter(ts, x -> x = w)) for w in list_distinct(ts)]) AS top_cnt,
      |         [array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts)-1)] AS tri
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      |  WHERE len(ts) >= 3)
      |ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    val topCnt = topRunCount($"ts")
    Tables.documents(spark, dir)
      .select($"doc_id", tokens.as("ts"))
      .filter(size($"ts") >= 3)
      .select($"doc_id", $"ts",
        topCnt.as("top_cnt"),
        transform(sequence(lit(0), size($"ts") - 3),
          i => concat_ws(" ", slice($"ts", i + 1, lit(3)))).as("tri"))
      .select($"doc_id",
        size($"ts").cast("long").as("n_tokens"),
        $"top_cnt".cast("long").as("top_cnt"),
        ($"top_cnt".cast("double") / size($"ts")).as("top_frac"),
        ((size($"tri") - size(array_distinct($"tri"))).cast("double") / size($"tri"))
          .as("dup_tri_frac"),
        when($"top_cnt" * 5 > size($"ts") ||
            (size($"tri") - size(array_distinct($"tri"))) * 10 > size($"tri") * 3, 1L)
          .otherwise(0L).as("flagged"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------- near-duplicate similarity

  /** All-pairs exact Jaccard oracle (naive is fine for the oracle; the
    * engine path below never does this). */
  private val neardupOracle: String =
    shingleCte +
      """
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       len(list_intersect(a.s, b.s))::BIGINT AS n_common,
        |       (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::BIGINT AS n_union
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 5
        |      >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 4
        |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact shingle-Jaccard similarity join at t = 0.8 via prefix filtering:
    * order every doc's shingles by global frequency (rarest first, ties by
    * string), emit only the first `n - ceil(0.8·n) + 1` as join keys, pair
    * docs sharing a prefix shingle, then verify exact Jaccard. Exact — the
    * prefix bound guarantees no qualifying pair is missed — but the shuffle
    * is keyed on RARE shingles, so bucket sizes stay small at scale. */
  val neardupJaccard: QueryDef = QueryDef("llm_neardup_jaccard", neardupOracle) {
    (spark, dir) => neardupPairsShared(spark, dir).orderBy($"doc_a", $"doc_b")
  }

  /** The verified near-dup pair list over the FULL corpus — a cross-query
    * memo (round-18, guide §1.2, the `clf_train`/`km_train` pattern):
    * seven lanes (`llm_neardup_jaccard`, `llm_dedup_cluster`,
    * `llm_dedup_cluster_ls`, `llm_dedup_keep_best`, `llm_dedup_consensus`,
    * `llm_rouge_pairs`, `llm_lcs_pairs`) each re-ran the identical
    * shingle → rarest-first → prefix-join → exact-Jaccard pipeline just to
    * read this thin (doc_a, doc_b, n_common, n_union) frame — ~2-4 s per
    * lane at sf0.1 and the whole pair-mining cost ×7 at corpus scale.
    * Consumers with OTHER inputs (the consensus half-corpus probe, the
    * streaming delta twin, fixture seams) keep calling [[neardupPlan]]
    * directly. */
  private[graft] def neardupPairsShared(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("neardup_pairs", dir)(
      neardupPlan(docShingles(spark, dir)))

  /** Rarest-first shingle ordering shared by the prefix-filter family:
    * (doc_id, shingles sorted by global frequency then string, n). The
    * input is persisted because it feeds several scans that Catalyst can't
    * unify; on a persistent 100 TB deployment this table would be a
    * materialized artifact (written once, reused by every similarity op) —
    * persist() is the single-session form of that materialization. */
  private def rarestFirst(docsShRaw: DataFrame): DataFrame = {
    val docsSh = graft.Caches.persist(docsShRaw)
    val freq = docsSh.select(explode($"sh").as("g"))
      .groupBy($"g").agg(count(lit(1)).as("f"))
    graft.Caches.persist(
      docsSh.select($"doc_id", explode($"sh").as("g"))
        .join(freq, "g")
        .groupBy($"doc_id")
        .agg(array_sort(collect_list(struct($"f", $"g"))).as("fg"))
        .select($"doc_id",
          transform($"fg", x => x.getField("g")).as("sh"),
          size($"fg").as("n")))
  }

  /** The Jaccard prefix-filter candidate pairs over a rarest-first-ordered
    * frame — extracted so the pair-density instrumentation
    * ([[neardupPairStats]]) counts EXACTLY the pairs the verify stage
    * sees. */
  private def neardupCandidatesFrom(ordered: DataFrame): DataFrame = {
    // prefix length p = n - ceil(0.8n) + 1; ceil(4n/5) = floor((4n+4)/5)
    val pref = ordered
      .withColumn("p", $"n" - floor(($"n" * 4 + 4) / lit(5)).cast("int") + 1)
      .select($"doc_id", explode(slice($"sh", lit(1), $"p")).as("g"))
    pref.as("a")
      .join(pref.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private[graft] def neardupPlan(docsShRaw: DataFrame): DataFrame = {
    val ordered = rarestFirst(docsShRaw)
    verifyJaccard(neardupCandidatesFrom(ordered), ordered.select($"doc_id", $"sh"))
  }

  /** Exact-Jaccard verification of candidate pairs at t = 0.8 (integer
    * predicate 5·∩ ≥ 4·∪). */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame): DataFrame =
    candidates
      .join(sets.select($"doc_id".as("doc_a"), $"sh".as("sha")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"sh".as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect($"sha", $"shb")))
      .withColumn("uni", size($"sha") + size($"shb") - $"inter")
      .filter($"inter" * 5 >= $"uni" * 4)
      .select($"doc_a", $"doc_b",
        $"inter".cast("long").as("n_common"), $"uni".cast("long").as("n_union"))
      .orderBy($"doc_a", $"doc_b")

  /** All-pairs directional containment oracle (naive for the oracle only;
    * small side = fewer shingles, ties by doc_id). */
  private val containmentOracle: String =
    shingleCte +
      """
        |SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
        |       len(a.s)::BIGINT AS n_small,
        |       len(list_intersect(a.s, b.s))::BIGINT AS n_common,
        |       round(CAST(len(list_intersect(a.s, b.s)) * 1000000 // len(a.s) AS DOUBLE)
        |             / 1000000.0, 6) AS containment
        |FROM sh a JOIN sh b
        |  ON a.doc_id <> b.doc_id
        | AND (len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.doc_id < b.doc_id))
        |WHERE len(list_intersect(a.s, b.s)) * 5 >= len(a.s) * 4
        |ORDER BY doc_small, doc_big""".stripMargin

  /** Asymmetric near-dup: shingle CONTAINMENT |A∩B|/|A| ≥ 0.8 with A the
    * smaller doc — catches an excerpt/quote embedded in a longer document,
    * which symmetric Jaccard structurally misses (a 50-shingle doc fully
    * inside a 500-shingle doc has J ≈ 0.1). Same exactness argument as
    * [[neardupJaccard]]: if C(A,B) ≥ t then A shares ≥ ⌈t·nA⌉ shingles
    * with B, so at least one of A's first nA−⌈t·nA⌉+1 rarest shingles is
    * in B — A's PREFIX joined against the full posting index cannot miss
    * a qualifying pair.
    *
    * Scale shape: the join is prefix(small side) ⋈ postings keyed on the
    * shingle — rare-first ordering keeps bucket sizes small; the posting
    * index is the artifact a deployment already maintains for the Jaccard
    * lane. Candidate volume is bounded by Σ_g pref(g)·postings(g); the
    * same per-shingle posting cap as the pair-mining family applies if a
    * stop-shingle slips through the rarity ordering.
    *
    * Determinism: score is positive-integer division quantized at 1e-6
    * (floor ≡ truncate), direction tie-broken by doc_id. */
  val containment: QueryDef = QueryDef("llm_containment", containmentOracle) {
    (spark, dir) => containmentPlan(docShingles(spark, dir))
  }

  /** The containment prefix×postings candidate pairs over a rarest-first
    * frame — extracted for [[containmentPairStats]]. */
  private def containmentCandidatesFrom(ordered: DataFrame): DataFrame = {
    // containment prefix bound: p = n - ceil(0.8n) + 1 (identical algebra
    // to the Jaccard prefix — both need one of the first n-⌈t·n⌉+1 keys)
    val pref = ordered
      .withColumn("p", $"n" - floor(($"n" * 4 + 4) / lit(5)).cast("int") + 1)
      .select($"doc_id", $"n", explode(slice($"sh", lit(1), $"p")).as("g"))
    val postings = ordered.select($"doc_id", $"n", explode($"sh").as("g"))
    pref.as("a")
      .join(postings.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id")
          && (col("a.n") < col("b.n")
              || (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))))
      .select(col("a.doc_id").as("doc_small"), col("b.doc_id").as("doc_big"))
      .distinct()
  }

  private[graft] def containmentPlan(docsShRaw: DataFrame): DataFrame = {
    val ordered = rarestFirst(docsShRaw)
    val candidates = containmentCandidatesFrom(ordered)
    candidates
      .join(ordered.select($"doc_id".as("doc_small"), $"sh".as("sha"), $"n".as("n_small")),
        "doc_small")
      .join(ordered.select($"doc_id".as("doc_big"), $"sh".as("shb")), "doc_big")
      .withColumn("inter", size(array_intersect($"sha", $"shb")))
      .filter($"inter" * 5 >= $"n_small" * 4)
      .select($"doc_small", $"doc_big", $"n_small".cast("long").as("n_small"),
        $"inter".cast("long").as("n_common"),
        round(expr("CAST(inter * 1000000L DIV n_small AS DOUBLE)") / 1000000.0, 6)
          .as("containment"))
      .orderBy($"doc_small", $"doc_big")
  }

  /** 1-row (n_candidates, n_pairs) readout shared by the pair-density
    * instrumentation lanes — two bounded aggregates crossed as broadcast
    * scalars. */
  private[graft] def pairStats(cand: DataFrame, verified: DataFrame): DataFrame =
    cand.agg(count(lit(1)).cast("long").as("n_candidates"))
      .crossJoin(broadcast(
        verified.agg(count(lit(1)).cast("long").as("n_pairs"))))

  /** DuckDB replay of the rarest-first prefix blocking (the ENGINE's
    * candidate generator, not the naive oracle): global shingle
    * frequency, per-doc (f, g)-ordered shingle list, prefix
    * p = n − ⌈0.8n⌉ + 1. Shared by both `*_pair_stats` oracles. */
  private val prefixBlockingCte: String =
    """e AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |f AS (SELECT g, count(*) AS f FROM e GROUP BY g),
      |ord AS (SELECT e.doc_id, list(e.g ORDER BY f.f, e.g) AS shl,
      |               count(*) AS n
      |        FROM e JOIN f ON f.g = e.g GROUP BY e.doc_id),
      |pref AS (SELECT doc_id, n,
      |                unnest(list_slice(shl, 1, n - (4 * n + 4) // 5 + 1)) AS g
      |         FROM ord)""".stripMargin

  /** Pair-density instrumentation for the Jaccard prefix-filter family
    * (round-12 verdict item 3): `n_candidates` = distinct pairs the
    * blocking stage emits, `n_pairs` = pairs surviving exact verify —
    * the readout that makes a scale rehearsal diagnosable: under ScaleUp
    * replication true duplicate-cluster sizes grow ~linearly and pair
    * counts ~quadratically, so superlinear lane cost with n_candidates
    * tracking n_pairs is OUTPUT growth; n_candidates exploding while
    * n_pairs doesn't is a candidate-generation regression. The oracle
    * replays the ENGINE's blocking exactly (rarest-first prefix), not
    * the naive all-pairs form, so the candidate count itself is
    * hash-checked cross-engine. `llm_rouge_pairs`/`llm_lcs_pairs`
    * consume this lane's verified pair list, so one readout covers all
    * three. */
  val neardupPairStats: QueryDef = QueryDef(
    "llm_neardup_pair_stats",
    shingleCte + ",\n" + prefixBlockingCte +
      """,
        |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |         FROM pref a JOIN pref b ON a.g = b.g AND a.doc_id < b.doc_id),
        |ver AS (SELECT a.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |        WHERE len(list_intersect(a.s, b.s)) * 5
        |              >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 4)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
        |       (SELECT CAST(count(*) AS BIGINT) FROM ver) AS n_pairs""".stripMargin,
  ) { (spark, dir) =>
    val ordered = rarestFirst(docShingles(spark, dir))
    val cand = graft.Caches.persist(neardupCandidatesFrom(ordered))
    pairStats(cand, verifyJaccard(cand, ordered.select($"doc_id", $"sh")))
  }

  /** [[neardupPairStats]]'s sibling for the asymmetric containment lane:
    * candidates = prefix(small) × postings collisions under the
    * (n, doc_id) direction rule, pairs = exact-containment survivors. */
  val containmentPairStats: QueryDef = QueryDef(
    "llm_containment_pair_stats",
    shingleCte + ",\n" + prefixBlockingCte +
      """,
        |post AS (SELECT doc_id, n, unnest(shl) AS g FROM ord),
        |cand AS (SELECT DISTINCT a.doc_id AS ds, b.doc_id AS db
        |         FROM pref a JOIN post b ON a.g = b.g AND a.doc_id <> b.doc_id
        |          AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))),
        |ver AS (SELECT a.doc_id FROM sh a JOIN sh b
        |          ON a.doc_id <> b.doc_id
        |         AND (len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.doc_id < b.doc_id))
        |        WHERE len(list_intersect(a.s, b.s)) * 5 >= len(a.s) * 4)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
        |       (SELECT CAST(count(*) AS BIGINT) FROM ver) AS n_pairs""".stripMargin,
  ) { (spark, dir) =>
    val ordered = rarestFirst(docShingles(spark, dir))
    val cand = graft.Caches.persist(containmentCandidatesFrom(ordered))
    val ver = cand
      .join(ordered.select($"doc_id".as("doc_small"), $"sh".as("sha"),
        $"n".as("n_small")), "doc_small")
      .join(ordered.select($"doc_id".as("doc_big"), $"sh".as("shb")), "doc_big")
      .filter(size(array_intersect($"sha", $"shb")) * 5 >= $"n_small" * 4)
    pairStats(cand, ver)
  }

  /** MinHash permutation family: ONE md5 base hash per shingle (the
    * expensive part), then h_i(x) = (a_i·x + b_i) mod p with p = 2^31-1 —
    * 32 cheap multiply-mods instead of 32 md5s per shingle, and still
    * bit-identical in DuckDB. Constants come from a fixed MINSTD LCG so both
    * engines embed the same literals. a_i·x < 2^62 so no int64 overflow. */
  private val MinhashP = 2147483647L // 2^31 - 1, prime
  private val permConsts: IndexedSeq[(Long, Long)] = {
    val xs = Iterator.iterate(1L)(x => x * 48271L % MinhashP)
      .drop(1).take(64).toIndexedSeq
    (0 until 32).map(i => (xs(2 * i), xs(2 * i + 1)))
  }

  /** Per-doc array of base hashes, reduced mod p, computed once. */
  private def baseHashes(docsSh: DataFrame): DataFrame =
    docsSh.withColumn("hv", transform($"sh", s => portableHash(s) % MinhashP))

  private def sigCol(i: Int): Column = {
    val (a, b) = permConsts(i)
    array_min(transform($"hv", h => (lit(a) * h + lit(b)) % MinhashP)).as(s"sig$i")
  }

  private def sigSql(i: Int): String = {
    val (a, b) = permConsts(i)
    s"list_min([($a * (('0x' || substr(md5(x), 1, 15))::BIGINT % $MinhashP) + $b) % $MinhashP for x in s]) AS sig$i"
  }

  /** MinHash signatures, 8 permutations, exactly replayed by the oracle. */
  val minhashSig: QueryDef = QueryDef(
    "llm_minhash_sig",
    shingleCte + "\nSELECT doc_id, " +
      (0 until 8).map(sigSql).mkString(", ") +
      "\nFROM sh ORDER BY doc_id",
  ) { (spark, dir) =>
    baseHashes(docShingles(spark, dir))
      .select($"doc_id" +: (0 until 8).map(sigCol): _*)
      .orderBy($"doc_id")
  }

  /** One row per (doc, band) carrying the band's RAW signature tuple — the
    * state key of the streaming ingest dedup
    * ([[graft.streaming.StreamingOps.neardupCollisions]]). The raw sig
    * tuple, not a hash of it, keys the bucket so the DuckDB oracle joins
    * on the identical value (the `llm_minhash_sweep` portability rule —
    * a hashed band key could in principle collide differently). */
  private[graft] def minhashBandRows(documents: DataFrame): DataFrame = {
    val signed = baseHashes(docShinglesOf(documents))
      .select(($"doc_id" +: (0 until 32).map(sigCol)): _*)
    signed.select($"doc_id", explode(array((0 until 8).map(b =>
        struct(lit(b).as("band"),
          col(s"sig${4 * b}").as("s0"), col(s"sig${4 * b + 1}").as("s1"),
          col(s"sig${4 * b + 2}").as("s2"), col(s"sig${4 * b + 3}").as("s3"))): _*))
        .as("bv"))
      .select($"doc_id", $"bv.band".as("band"), $"bv.s0".as("s0"),
        $"bv.s1".as("s1"), $"bv.s2".as("s2"), $"bv.s3".as("s3"))
  }

  /** Oracle fragment for [[minhashBandRows]]: `sg` (32 signatures) and
    * `br` (8 band rows per doc), to append after [[shingleCte]]. */
  private[graft] def minhashBandSqlCtes: String =
    s"sg AS (SELECT doc_id, ${(0 until 32).map(sigSql).mkString(", ")} FROM sh),\n" +
      "br AS (" + (0 until 8).map(b =>
        s"SELECT doc_id, $b AS band, sig${4 * b} AS s0, sig${4 * b + 1} AS s1, " +
          s"sig${4 * b + 2} AS s2, sig${4 * b + 3} AS s3 FROM sg")
        .mkString("\n      UNION ALL ") + ")"

  /** MinHash-LSH near-dup join: 32 perms → 8 bands × 4 rows → bucket-join on
    * the band hash → exact-Jaccard verification of candidates only. Output
    * equals the exact join's whenever banding recall is 1.0 (true for this
    * corpus's planted near-dups at J ≥ 0.9; asserted in LlmTextOpsSpec). */
  val minhashLsh: QueryDef = QueryDef("llm_minhash_lsh", neardupOracle) {
    (spark, dir) =>
      // shingle table feeds both the signature path and the verification
      // joins — persist it for the query (see neardupPlan note)
      val docsSh = graft.Caches.persist(docShingles(spark, dir))
      val signed = baseHashes(docsSh)
        .select(($"doc_id" +: $"sh" +: (0 until 32).map(sigCol)): _*)
      // Band key already folds in the band index, so one long per band row.
      val bandKeys = (0 until 8).map(b =>
        xxhash64(lit(b) +: (4 * b until 4 * b + 4).map(i => col(s"sig$i")): _*))
      val bandRows = signed
        .select($"doc_id", explode(array(bandKeys: _*)).as("bk"))
      val candidates = bandRows.as("x")
        .join(bandRows.as("y"),
          col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      verifyJaccard(candidates, docsSh)
  }

  /** MinHash BAND-CONFIGURATION SWEEP — the recall/cost tuning readout an
    * operator reads before choosing how to spend the 32 permutations:
    * for each (bands × rows-per-band) split of the same signatures, how
    * many candidate pairs the banding generates, how many of the exact
    * Jaccard-0.8 pairs it recovers, and the recall. More rows per band →
    * sharper threshold, fewer candidates, lower recall: the sweep shows
    * the trade on THIS corpus instead of the textbook S-curve.
    *
    * Runs on the deterministic EVEN-doc_id half of the corpus — at scale
    * a tuning readout runs on a sample by construction (candidate volume
    * on duplicate cliques is quadratic in the OUTPUT; halving docs
    * quarters it), and the predicate `doc_id % 2 = 0` replays exactly in
    * the oracle. Band membership joins on the sig TUPLE itself (struct
    * key), not a hash of it, so Spark and DuckDB agree on the candidate
    * set bit-for-bit — a hashed band key (the production shortcut
    * `llm_minhash_lsh` uses) could in principle collide. */
  val minhashSweep: QueryDef = QueryDef(
    "llm_minhash_sweep",
    shingleCte.replace("FROM documents", "FROM documents WHERE doc_id % 2 = 0") +
      s""",
         |sg AS (SELECT doc_id, ${(0 until 32).map(sigSql).mkString(", ")} FROM sh),
         |xp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |       WHERE len(list_intersect(a.s, b.s)) * 5
         |             >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 4),
         |nx AS (SELECT count(*) AS n_exact FROM xp),
         |${Seq((16, 2), (8, 4), (4, 8)).map { case (nb, rpb) =>
            val bands = (0 until nb).map(b =>
              "(" + (rpb * b until rpb * b + rpb)
                .map(i => s"a.sig$i = b.sig$i").mkString(" AND ") + ")")
              .mkString("\n|             OR ")
            s"""c$nb AS MATERIALIZED (
               |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
               |  WHERE $bands),
               |r$nb AS (SELECT $nb AS n_bands, $rpb AS rows_per_band,
               |                (SELECT count(*) FROM c$nb) AS n_candidates,
               |                (SELECT count(*) FROM c$nb c JOIN xp
               |                 ON c.doc_a = xp.doc_a AND c.doc_b = xp.doc_b) AS n_true)"""
          }.mkString(",\n")}
         |SELECT CAST(n_bands AS BIGINT) AS n_bands,
         |       CAST(rows_per_band AS BIGINT) AS rows_per_band,
         |       CAST(n_candidates AS BIGINT) AS n_candidates,
         |       CAST(n_true AS BIGINT) AS n_true,
         |       CAST(nx.n_exact AS BIGINT) AS n_exact,
         |       round(CAST(n_true AS DOUBLE) / nx.n_exact, 6) AS recall
         |FROM (SELECT * FROM r16 UNION ALL SELECT * FROM r8 UNION ALL SELECT * FROM r4), nx
         |ORDER BY n_bands DESC""".stripMargin,
  ) { (spark, dir) =>
    val docsSh = graft.Caches.persist(
      docShingles(spark, dir).filter($"doc_id" % 2 === 0))
    val signed = graft.Caches.persist(
      baseHashes(docsSh).select(($"doc_id" +: (0 until 32).map(sigCol)): _*))
    val exact = graft.Caches.persist(
      neardupPlan(docsSh).select($"doc_a", $"doc_b"))
    val nx = exact.agg(count(lit(1)).as("n_exact"))
    def configRow(nb: Int, rpb: Int): DataFrame = {
      val bandStructs = (0 until nb).map(b =>
        struct(lit(b).as("band"),
          struct((0 until rpb).map(j => col(s"sig${rpb * b + j}").as(s"k$j")): _*)
            .as("key")))
      val rows = signed
        .select($"doc_id", explode(array(bandStructs: _*)).as("bk"))
      val cand = graft.Caches.persist(rows.as("x")
        .join(rows.as("y"),
          col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct())
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(cand.join(exact, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("n_true")))
        .select(lit(nb.toLong).as("n_bands"), lit(rpb.toLong).as("rows_per_band"),
          $"n_candidates", $"n_true")
    }
    Seq((16, 2), (8, 4), (4, 8)).map { case (nb, rpb) => configRow(nb, rpb) }
      .reduce(_ unionAll _)
      .crossJoin(broadcast(nx))
      .select($"n_bands", $"rows_per_band", $"n_candidates", $"n_true",
        $"n_exact",
        round($"n_true".cast("double") / $"n_exact", 6).as("recall"))
      .orderBy($"n_bands".desc)
  }

  // ------------------------------------------------------------ SimHash

  private[ops] def simhashSumsSql: String =
    (0 until 32).map(j =>
      s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(", ")

  private[ops] def simhashBitsSql: String =
    (0 until 32).map(j =>
      s"CASE WHEN s$j > 0 THEN (1::BIGINT << $j) ELSE 0 END").mkString(" + ")

  private def simhashCte: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |g AS (SELECT doc_id, unnest([array_to_string(ts[i:i+2], ' ')
      |                             for i in range(1, len(ts)-1)]) AS g
      |      FROM toks WHERE len(ts) >= 3),
      |h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS hv FROM g),
      |s AS (SELECT doc_id, """.stripMargin + simhashSumsSql +
      " FROM h GROUP BY doc_id),\nf AS (SELECT doc_id, (" + simhashBitsSql +
      ") AS simhash FROM s)"

  /** Spark side of the 32-bit SimHash fingerprint over weighted (i.e.
    * non-distinct) shingles. One explode + one hash-agg — linear, no joins. */
  private def simhashDf(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select($"doc_id", tokens.as("ts"))
      .filter(size($"ts") >= 3)
      .select($"doc_id",
        explode(transform(sequence(lit(0), size($"ts") - 3),
          i => concat_ws(" ", slice($"ts", i + 1, lit(3))))).as("g"))
      .select($"doc_id", portableHash($"g").as("hv"))
    val sums = (0 until 32).map(j =>
      sum(when(shiftright($"hv", j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s$j"))
    val bits = (0 until 32)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    grams.groupBy($"doc_id").agg(sums.head, sums.tail: _*)
      .select($"doc_id", bits.as("simhash"))
  }

  /** 32-bit SimHash fingerprint per document, exactly oracle-replayed. */
  val simhash: QueryDef = QueryDef(
    "llm_simhash",
    simhashCte + "\nSELECT doc_id, simhash FROM f ORDER BY doc_id",
  ) { (spark, dir) => simhashDf(spark, dir).orderBy($"doc_id") }

  /** SimHash near-dup pairs at hamming ≤ 3 via four 8-bit band joins —
    * EXACT by pigeonhole (≤3 differing bits can't touch all 4 bands), so the
    * all-pairs oracle must agree. The engine path shuffles on (band, value)
    * buckets, never the cross product. */
  val simhashPairs: QueryDef = QueryDef(
    "llm_simhash_pairs",
    simhashCte +
      """
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
  ) { (spark, dir) => simhashPairsMine(spark, dir).orderBy($"doc_a", $"doc_b") }

  /** [[simhashPairs]]'s banded mining body (unordered), extracted so
    * [[dedupConsensus]] can fuse the same pair graph. */
  private def simhashPairsMine(spark: SparkSession, dir: String): DataFrame =
    hammingPairsOf(simhashDf(spark, dir), "simhash", bits = 32, radius = 3)

  /** Every `(doc_a < doc_b, hamming)` pair of a `(doc_id, <hash>)` frame
    * whose `bits`-bit hashes differ in at most `radius` bits — the one
    * exact pigeonhole band join behind every hamming-radius lane
    * (`llm_simhash_pairs`, `llm_dedup_consensus`, `mm_simhash_payload`,
    * `mm_phash_pairs`, `mm_phash_pairs2`; it replaces the four copies
    * `simhashBandPairs`, `phashPairsOf`, `phashPairs2Of` and the body of
    * `simhashPairsMine`, which differed only in constants). The hash
    * splits into `radius + 1` bands of `⌈bits / bands⌉` bits; `radius`
    * differing bits
    * touch at most `radius` bands, so every qualifying pair agrees on at
    * least one whole band, and the (band, value) self equi-join loses
    * nothing. Candidates are deduplicated (a close pair may share several
    * bands) before the exact `bit_count(xor) ≤ radius` filter. The join
    * shuffles (band, value) keys and hashes, never the rows behind them. */
  private[graft] def hammingPairsOf(f: DataFrame, hash: String, bits: Int,
      radius: Int): DataFrame = {
    val nBands = radius + 1
    val width = (bits + nBands - 1) / nBands
    val bands = f.select($"doc_id", col(hash).as("h"),
      explode(array((0 until nBands).map(b => struct(
        lit(b).as("band"),
        shiftright(col(hash), width * b).bitwiseAND(lit((1L << width) - 1)).as("v"))): _*))
        .as("bv"))
      .select($"doc_id", $"h", $"bv.band".as("band"), $"bv.v".as("v"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.h").as("ha"), col("b.h").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count($"ha".bitwiseXOR($"hb")).cast("long"))
      .filter($"hamming" <= radius)
      .select($"doc_a", $"doc_b", $"hamming")
  }

  // ------------------------------------------- duplicate-cluster resolution

  /** Recursive transitive-closure CTE chain over the near-dup pair graph,
    * ending in `reach (id, r)` — shared by the three cluster-consuming
    * oracles ([[dedupCluster]], [[dedupClusterLs]], [[dedupKeepBest]]). */
  private val clusterCtes: String =
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |sh AS (SELECT doc_id,
      |              list_distinct([array_to_string(ts[i:i+2], ' ')
      |                             for i in range(1, len(ts)-1)]) AS s
      |       FROM toks WHERE len(ts) >= 3),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db
      |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |      WHERE len(list_intersect(a.s, b.s)) * 5
      |            >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 4),
      |e AS (SELECT da AS a, db AS b FROM p UNION ALL SELECT db AS a, da AS b FROM p),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id
      |)""".stripMargin

  /** Connected components over the near-dup pair graph — the step that turns
    * pair mining into an actual dedup decision: every document gets the id
    * of its duplicate cluster (the component's minimum doc_id) and a `keep`
    * flag marking the one survivor per cluster. Transitivity matters: if
    * A≈B and B≈C, exact pairwise Jaccard may never link A to C, but all
    * three are one duplicate group and only one should survive.
    *
    * Resolved by [[clusterLsOf]] (large-star/small-star, O(log n) rounds —
    * a long duplicate chain, the shape templated boilerplate produces,
    * closes in a few rounds: the spec's 250-hop chain in about 6); the
    * driver loop holds only convergence counters, never data, and a
    * non-converged exit THROWS rather than returning silently-wrong
    * labels. The DuckDB oracle
    * replays the fixpoint as a recursive transitive-closure CTE, so
    * cluster assignment is hash-verified end-to-end including singleton
    * handling. */
  val dedupCluster: QueryDef = QueryDef(
    "llm_dedup_cluster",
    clusterCtes +
      """
        |SELECT id AS doc_id, min(r) AS cluster_id,
        |       CAST(CASE WHEN min(r) = id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    clusterLsOf(
      neardupPairsShared(spark, dir).select($"doc_a", $"doc_b"),
      Tables.documents(spark, dir).select($"doc_id"))
  }

  /** Safety cap for [[clusterLsOf]]. The alternating algorithm is proven
    * O(log² n) rounds worst-case (and observed O(log n) in practice — a
    * 250-hop chain closes in ~6 rounds in the spec); 30 rounds is far past
    * any real graph, so hitting the cap means the loop is broken and the
    * op throws rather than returning partial stars. */
  private val MaxLsRounds = 30

  /** Large-star/small-star connected components (the alternating algorithm
    * of Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the engine's one connected-components kernel.
    * `pairs(doc_a, doc_b)` undirected, `docs(doc_id)` the vertex set (so
    * documents in no pair come out as their own singleton cluster), output
    * (doc_id, cluster_id = component min, keep).
    *
    * It rewrites the EDGE LIST itself toward min-rooted stars, needs no
    * separate label state, and its per-round cost shrinks as edges
    * collapse into stars — the standard choice at corpus scale, where the
    * edge set, not the vertex set, dominates. Each round is two grouped
    * aggregations + two equi-joins, all keyed on edge endpoints:
    *
    *  - large-star: per node u, m = min({u} ∪ N(u)); every neighbor v > u
    *    re-links to (v, m) — strictly-larger neighbors hang off the local
    *    minimum, so tall chains fold in half;
    *  - small-star: per node hi over down-edges (hi, lo), m = min(lo);
    *    every lo re-links to (lo, m) and hi keeps (hi, m) — local stars
    *    flatten onto their minimum.
    *
    * Both steps only ever re-link a node to another node of its own
    * component, so connectivity is invariant; the fixpoint is exactly one
    * star per component rooted at the component minimum. Convergence is
    * detected set-wise (equal counts + empty anti-join — two cheap jobs on
    * checkpointed frames); a capped non-converged exit THROWS rather than
    * returning partial stars. All arithmetic is integer min/join, so the
    * result is deterministic and matches [[dedupCluster]]'s recursive-CTE
    * oracle. */
  private[graft] def clusterLsOf(pairs: DataFrame, docs: DataFrame): DataFrame = {
    // canonical (a > b) orientation; self-pairs dropped. The canonical
    // pairs are persisted so a rerun over the same pair plan reuses the
    // possibly-expensive upstream mining; their distinct is checkpointed
    // with its count in one job, like every round below. The checkpoint
    // runs through adaptive execution, which sizes the distinct's output
    // from the observed bytes (one partition at bench SF); a persisted
    // distinct keeps the session's shuffle width instead and hands it to
    // every task of round 1.
    var (e, nEdges) = graft.Caches.localCheckpointCount(graft.Caches.persist(
      pairs.select(greatest($"doc_a", $"doc_b").as("a"),
          least($"doc_a", $"doc_b").as("b"))
        .filter($"a" =!= $"b")).distinct())
    // Round-17: every star round runs at a width sized from the MEASURED
    // edge count (a count the convergence test already pays) — at bench SF
    // the match graph is a few thousand rows and session-wide 32-task
    // shuffles were pure launch overhead across ~8 rounds × 4 stages
    // (geo_cluster / dq_golden_record drift-watch lanes); at cluster
    // scale the width grows with the frame. Values are width-independent.
    val lw = loopPartsFor(pairs.sparkSession, nEdges)
    var converged = nEdges == 0L
    var iter = 0
    withLoopWidth(pairs.sparkSession, lw) {
    while (!converged && iter < MaxLsRounds) {
      // Each star step is ONE window over the step's grouping key instead
      // of a groupBy-min joined back to the edges: the min-per-node map is
      // VERTEX-sized, so hinting it broadcast would lie at corpus scale,
      // and as a join it costs two shuffles (agg + join probe) against the
      // window's one. Loop state is stat-less (Caches.localCheckpoint →
      // GraftShim), so without this the planner shuffle-joined every round
      // — the round-10 cluster_ls 5× regression.
      // large-star over both orientations: m = min({u} ∪ N(u))
      val und = e.select($"a".as("u"), $"b".as("v"))
        .union(e.select($"b".as("u"), $"a".as("v")))
      // no intermediate distinct: window MIN is duplicate-blind and the
      // round-final distinct dedups the whole edge set, so the only
      // shuffles per round are the two window keys + that one distinct
      val ls = und
        .withColumn("m", least(min($"v").over(Window.partitionBy($"u")), $"u"))
        .filter($"v" > $"u")
        .select($"v".as("a"), $"m".as("b"))
      // small-star over the (hi, lo) edges large-star produced: every lo
      // re-links to m = min(N_down(hi)), and each hi keeps (hi, m)
      val sm = ls.withColumn("m", min($"b").over(Window.partitionBy($"a")))
      val (next, nNext) = graft.Caches.localCheckpointCount(
        sm.select($"b".as("n"), $"m")
          .union(sm.select($"a".as("n"), $"m"))
          .filter($"n" =!= $"m")
          .select($"n".as("a"), $"m".as("b"))
          .distinct())
      // equal size and next ⊆ e ⇒ identical edge sets (both are distinct).
      // Round-18: the count is FREE from the fused checkpoint, so the
      // round-17 probe deferral is gone — detection is immediate again
      // (the VERDICT r17 item 6 bound), and the anti-join confirmation
      // runs only on rounds whose counts already match.
      converged = nNext == nEdges &&
        next.join(e, Seq("a", "b"), "left_anti").isEmpty
      e = next
      nEdges = nNext
      iter += 1
    }
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusterLsOf did not converge after $MaxLsRounds large/small-star " +
          "rounds — refusing to return non-star edges")
    // fixpoint is a min-rooted star: each non-root node has exactly the
    // edge (node, root); roots and singletons label themselves
    val lbl = e.groupBy($"a").agg(min($"b").as("cluster_id"))
      .select($"a".as("doc_id"), $"cluster_id")
    docs.select($"doc_id")
      .join(lbl, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
      .select($"doc_id", $"cluster_id",
        when($"cluster_id" === $"doc_id", 1L).otherwise(0L).as("keep"))
      .orderBy($"doc_id")
  }

  /** [[dedupCluster]] under its second registered name: the same
    * [[clusterLsOf]] resolution of the same near-dup pair graph, checked
    * against the same recursive-CTE oracle. */
  val dedupClusterLs: QueryDef =
    dedupCluster.copy(name = "llm_dedup_cluster_ls")

  /** CANONICAL-DOC selection: the retention policy a production dedup
    * actually applies. [[dedupCluster]] keeps the arbitrary min-id member
    * of each near-dup cluster; real pipelines (the CCNet/RefinedWeb
    * convention) keep the BEST member — here the highest heuristic
    * quality score (`llm_quality`'s exact formula), doc_id as the
    * deterministic tiebreak. Per doc: its cluster, the cluster size, its
    * quality, and whether it is the cluster's canonical survivor.
    *
    * Scale shape: cluster resolution is the O(log n) [[clusterLsOf]]
    * kernel; the quality score is a map-only pass; the
    * argmax-per-cluster is one bounded window keyed on cluster_id (row
    * width: three numerics). Nothing new shuffles the text. Determinism:
    * quality is round(·, 4) of the same single expression both engines
    * evaluate on exact ints, and the tie order (quality DESC, doc_id) is
    * total. */
  val dedupKeepBest: QueryDef = QueryDef(
    "llm_dedup_keep_best",
    clusterCtes +
      """,
        |q AS (SELECT doc_id,
        |             round(least(len(string_split(text, ' ')) / 50.0, 1.0) * 0.5
        |                   + (1.0 - CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |                            / len(string_split(text, ' '))) * 0.5, 4) AS quality
        |      FROM documents),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |j AS (SELECT cl.doc_id, cl.cluster_id, q.quality,
        |             count(*) OVER (PARTITION BY cl.cluster_id) AS n_members,
        |             row_number() OVER (PARTITION BY cl.cluster_id
        |                                ORDER BY q.quality DESC, cl.doc_id) AS rk
        |      FROM cl JOIN q USING (doc_id))
        |SELECT doc_id, cluster_id, CAST(n_members AS BIGINT) AS n_members, quality,
        |       CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM j ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    dedupKeepBestOf(Tables.documents(spark, dir),
      Some(neardupPairsShared(spark, dir).select($"doc_a", $"doc_b")))
  }

  /** The [[dedupKeepBest]] plan over any (doc_id, text) frame — extracted
    * for the planted-cluster spec. `pairsOpt` lets the registry lane ride
    * the [[neardupPairsShared]] memo; fixtures omit it and the pair graph
    * derives from `docs` as before. */
  private[graft] def dedupKeepBestOf(docs: DataFrame,
      pairsOpt: Option[DataFrame] = None): DataFrame = {
    val clusters = clusterLsOf(
      pairsOpt.getOrElse(
        neardupPlan(docShinglesOf(docs)).select($"doc_a", $"doc_b")),
      docs.select($"doc_id")).select($"doc_id", $"cluster_id")
    val stop = Seq("the", "a", "of", "and")
    val q = docs.select($"doc_id", tokens.as("ts"))
      .select($"doc_id", size($"ts").as("n"),
        size(filter($"ts", t => t.isInCollection(stop))).as("hits"))
      .select($"doc_id",
        round(least($"n" / lit(50.0), lit(1.0)) * 0.5
          + (lit(1.0) - $"hits".cast("double") / $"n") * 0.5, 4).as("quality"))
    clusters.join(q, "doc_id")
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy($"cluster_id")).cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"cluster_id").orderBy($"quality".desc, $"doc_id".asc)))
      .select($"doc_id", $"cluster_id", $"n_members", $"quality",
        ($"rk" === 1).cast("long").as("keep"))
      .orderBy($"doc_id")
  }

  /** MULTI-SIGNAL dedup consensus — the three independent near-dup miners
    * this file ships (exact shingle-Jaccard ≥ 0.8, SimHash hamming ≤ 3,
    * winnowing ≥ 3 shared rare fingerprints) fused into ONE duplicate
    * graph with per-edge signal provenance, resolved to connected
    * components by the O(log n) large-star/small-star engine, and read out
    * per cluster: size, edge count, per-signal edge counts, and how many
    * edges at least two signals agree on. This is how a production corpus
    * dedup actually decides — no single signal is trusted alone; an edge
    * seen by two independent families (token-set, bit-sketch, substring)
    * is a far stronger duplicate claim than any one lane's hit — and the
    * readout shows precisely where the lanes agree and where one is out on
    * its own.
    *
    * Scale shape: each lane is its own already-audited bucket-join (rare
    * shingle prefixes / 8-bit SimHash bands / rare winnow fingerprints) —
    * the union runs over lane OUTPUTS, which are edge-count-sized, never
    * corpus-sized; the provenance merge is one (doc_a, doc_b)-keyed
    * aggregation; component resolution is edge-list rewriting in O(log n)
    * rounds; the final rollups are cluster-keyed. The oracle replays all
    * three lanes, the union, and the transitive closure as one recursive
    * CTE, so cluster membership AND the per-signal tallies are
    * hash-verified end-to-end. */
  val dedupConsensus: QueryDef = QueryDef(
    "llm_dedup_consensus",
    s"""WITH RECURSIVE
       |toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
       |sh AS (SELECT doc_id,
       |              list_distinct([array_to_string(ts[i:i+2], ' ')
       |                             for i in range(1, len(ts)-1)]) AS s
       |       FROM toks WHERE len(ts) >= 3),
       |pj AS (SELECT a.doc_id AS da, b.doc_id AS db
       |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |       WHERE len(list_intersect(a.s, b.s)) * 5
       |             >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 4),
       |sg AS (SELECT doc_id, unnest([array_to_string(ts[i:i+2], ' ')
       |                              for i in range(1, len(ts)-1)]) AS g
       |       FROM toks WHERE len(ts) >= 3),
       |sv AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS hv FROM sg),
       |sm AS (SELECT doc_id, $simhashSumsSql FROM sv GROUP BY doc_id),
       |sf2 AS (SELECT doc_id, ($simhashBitsSql) AS simhash FROM sm),
       |psim AS (SELECT a.doc_id AS da, b.doc_id AS db
       |         FROM sf2 a JOIN sf2 b ON a.doc_id < b.doc_id
       |         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |wg AS (SELECT doc_id, i - 1 AS pos, length(text) - ${WinK - 1} AS n_grams,
       |              ('0x' || substr(md5(substr(text, i, $WinK)), 1, 15))::BIGINT AS h
       |       FROM documents, unnest(range(1, length(text) - ${WinK - 1} + 1)) AS t(i)
       |       WHERE length(text) >= ${WinK + WinW - 1}),
       |wm AS (SELECT doc_id, pos, n_grams,
       |              min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                           ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS fp
       |       FROM wg),
       |wf AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= n_grams - $WinW),
       |wrare AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) <= 10),
       |pwin AS (SELECT a.doc_id AS da, b.doc_id AS db
       |         FROM wf a JOIN wrare r ON a.fp = r.fp JOIN wf b ON a.fp = b.fp
       |         WHERE a.doc_id < b.doc_id
       |         GROUP BY 1, 2 HAVING count(*) >= 3),
       |edges AS (SELECT da, db, max(sj) AS s_jac, max(ss) AS s_sim, max(sw) AS s_win
       |          FROM (SELECT da, db, 1 AS sj, 0 AS ss, 0 AS sw FROM pj
       |                UNION ALL SELECT da, db, 0, 1, 0 FROM psim
       |                UNION ALL SELECT da, db, 0, 0, 1 FROM pwin)
       |          GROUP BY da, db),
       |ed AS (SELECT da AS a, db AS b FROM edges
       |       UNION ALL SELECT db AS a, da AS b FROM edges),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM documents
       |  UNION
       |  SELECT ed.b AS id, reach.r AS r FROM reach JOIN ed ON ed.a = reach.id
       |),
       |lbl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
       |sizes AS (SELECT cluster_id, count(*) AS n_docs FROM lbl
       |          GROUP BY 1 HAVING count(*) >= 2),
       |percl AS (SELECT l.cluster_id, count(*) AS n_edges,
       |                 sum(s_jac) AS n_jaccard, sum(s_sim) AS n_simhash,
       |                 sum(s_win) AS n_winnow,
       |                 sum(CASE WHEN s_jac + s_sim + s_win >= 2 THEN 1 ELSE 0 END) AS n_multi
       |          FROM edges e JOIN lbl l ON e.da = l.doc_id GROUP BY 1)
       |SELECT s.cluster_id, s.n_docs::BIGINT AS n_docs,
       |       p.n_edges::BIGINT AS n_edges, p.n_jaccard::BIGINT AS n_jaccard,
       |       p.n_simhash::BIGINT AS n_simhash, p.n_winnow::BIGINT AS n_winnow,
       |       p.n_multi::BIGINT AS n_multi
       |FROM sizes s JOIN percl p USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin,
  ) { (spark, dir) =>
    val pj = neardupPairsShared(spark, dir)
      .select($"doc_a", $"doc_b",
        lit(1).as("s_jac"), lit(0).as("s_sim"), lit(0).as("s_win"))
    val ps = simhashPairsMine(spark, dir)
      .select($"doc_a", $"doc_b",
        lit(0).as("s_jac"), lit(1).as("s_sim"), lit(0).as("s_win"))
    val pw = winnowPairsMine(spark, dir)
      .select($"doc1".as("doc_a"), $"doc2".as("doc_b"),
        lit(0).as("s_jac"), lit(0).as("s_sim"), lit(1).as("s_win"))
    // edge table with provenance flags — consumed by the resolver AND the
    // per-cluster rollup, so persist once (lane outputs, edge-count-sized)
    val edges = graft.Caches.persist(
      pj.union(ps).union(pw)
        .groupBy($"doc_a", $"doc_b")
        .agg(max($"s_jac").as("s_jac"), max($"s_sim").as("s_sim"),
          max($"s_win").as("s_win")))
    val lbl = clusterLsOf(edges.select($"doc_a", $"doc_b"),
      Tables.documents(spark, dir).select($"doc_id"))
    val sizes = lbl.groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs")).filter($"n_docs" >= 2)
    // doc_a's component == doc_b's by construction, so one join suffices
    val percl = edges
      .join(lbl.select($"doc_id".as("doc_a"), $"cluster_id"), "doc_a")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_edges"),
        sum($"s_jac").cast("long").as("n_jaccard"),
        sum($"s_sim").cast("long").as("n_simhash"),
        sum($"s_win").cast("long").as("n_winnow"),
        sum(when($"s_jac" + $"s_sim" + $"s_win" >= 2, 1L).otherwise(0L))
          .as("n_multi"))
    sizes.join(percl, Seq("cluster_id"))
      .select($"cluster_id", $"n_docs", $"n_edges", $"n_jaccard",
        $"n_simhash", $"n_winnow", $"n_multi")
      .orderBy($"cluster_id")
  }

  /** INCREMENTAL dedup — the shape a daily ingest actually runs: dedup the
    * new DELTA (docs ≡ 0 mod 5, ~20% of the corpus at any SF) against the
    * standing snapshot (everything else) AND against earlier docs in the
    * same delta, without ever re-pairing the snapshot with itself. Each
    * delta doc gets one verdict: `dup_of_corpus` (an LSH-verified match
    * into the snapshot — the doc already exists, drop it),
    * `dup_in_delta` (first seen earlier in this same batch), or `new`,
    * plus the lowest matching doc id.
    *
    * Scale shape — the reason this op exists apart from the full-corpus
    * miners: the snapshot×snapshot quadrant is never generated. The
    * snapshot side contributes only its (band, signature) index — at
    * 100 TB a materialized artifact maintained across ingests — and the
    * small delta's band rows BROADCAST onto it; the delta×delta quadrant
    * is a self-join of the small side only. Exact-Jaccard verification
    * then runs on candidates alone. Banding recall on this corpus's
    * planted near-dups is 1.0 (the [[minhashLsh]] precedent, asserted in
    * spec), so the all-pairs exact oracle must agree row-for-row. */
  val incrementalDedup: QueryDef = QueryDef(
    "llm_incremental_dedup",
    shingleCte +
      """,
        |m AS (SELECT a.doc_id AS d_id, b.doc_id AS c_id
        |      FROM sh a JOIN sh b
        |        ON a.doc_id % 5 = 0 AND b.doc_id <> a.doc_id
        |       AND (b.doc_id % 5 <> 0 OR b.doc_id < a.doc_id)
        |      WHERE len(list_intersect(a.s, b.s)) * 5
        |            >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 4),
        |agg AS (SELECT d_id,
        |               min(CASE WHEN c_id % 5 <> 0 THEN c_id END) AS corp_match,
        |               min(CASE WHEN c_id % 5 = 0 THEN c_id END) AS delta_match
        |        FROM m GROUP BY 1)
        |SELECT d.doc_id,
        |       CASE WHEN corp_match IS NOT NULL THEN 'dup_of_corpus'
        |            WHEN delta_match IS NOT NULL THEN 'dup_in_delta'
        |            ELSE 'new' END AS verdict,
        |       coalesce(corp_match, delta_match) AS match_id
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        |LEFT JOIN agg ON d.doc_id = agg.d_id
        |ORDER BY d.doc_id""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    incrementalDedupOf(
      docs.filter(pmod($"doc_id", lit(5)) =!= 0),
      docs.filter(pmod($"doc_id", lit(5)) === 0))
  }

  /** The incremental-dedup plan over arbitrary (corpus, delta) frames —
    * extracted so the spec can plant a cross-snapshot duplicate and an
    * intra-delta duplicate and watch the verdicts split. */
  private[graft] def incrementalDedupOf(corpus: DataFrame, delta: DataFrame): DataFrame = {
    val corpusBands = minhashBandRows(corpus)
    // the delta's band rows feed both quadrants → persist the small side
    val deltaBands = graft.Caches.persist(minhashBandRows(delta))
    val keys = Seq("band", "s0", "s1", "s2", "s3")
    val candCorpus = corpusBands
      .join(broadcast(deltaBands.select(($"doc_id".as("d_id") +: keys.map(col)): _*)),
        keys)
      .select($"d_id".as("doc_a"), $"doc_id".as("doc_b"))
    val candDelta = deltaBands.as("x")
      .join(deltaBands.as("y"),
        keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = candCorpus.union(candDelta).distinct()
    val sets = docShinglesOf(corpus.unionByName(delta))
    val inCorpus = corpus.select($"doc_id".as("doc_b"), lit(1).as("is_corpus"))
    val agg = verifyJaccard(cand, sets)
      .join(inCorpus, Seq("doc_b"), "left")
      .groupBy($"doc_a")
      .agg(min(when($"is_corpus" === 1, $"doc_b")).as("corp_match"),
        min(when($"is_corpus".isNull, $"doc_b")).as("delta_match"))
    delta.select($"doc_id")
      .join(agg, $"doc_id" === $"doc_a", "left")
      .select($"doc_id",
        when($"corp_match".isNotNull, "dup_of_corpus")
          .when($"delta_match".isNotNull, "dup_in_delta")
          .otherwise("new").as("verdict"),
        coalesce($"corp_match", $"delta_match").as("match_id"))
      .orderBy($"doc_id")
  }

  /** Cross-document CHUNK dedup — the CCNet/RefinedWeb "paragraph dedup"
    * stage re-expressed over whitespace token streams (this corpus has no
    * newline paragraphs, so a paragraph = a 10-token chunk): every doc is
    * cut into fixed 10-token chunks, each chunk is counted corpus-wide, and
    * each doc reports how many of its chunks also occur elsewhere (or twice
    * in itself — the oracle counts occurrences, not distinct docs, and so
    * does the engine). Boilerplate headers/footers shared across pages are
    * exactly what this catches that whole-document dedup cannot.
    *
    * Scale shape: chunks shuffle as (doc_id, 60-bit hash) — never text —
    * through one hash-keyed count and one hash-keyed equi-join back, then a
    * doc-keyed rollup; all three are bounded by the token count of the
    * corpus, no pair expansion anywhere. */
  val dupChunks: QueryDef = QueryDef(
    "llm_dup_chunks",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |ck AS (SELECT doc_id,
      |              ('0x' || substr(md5(array_to_string(ts[10*i+1:10*i+10], ' ')), 1, 15))::BIGINT AS h
      |       FROM toks, unnest(range(0, (len(ts) - 1) // 10 + 1)) AS t(i)),
      |fr AS (SELECT h, count(*) AS n FROM ck GROUP BY h)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(CASE WHEN fr.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
      |FROM ck JOIN fr USING (h)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    val chunks = Tables.documents(spark, dir)
      .select($"doc_id", tokens.as("ts"))
      .select($"doc_id", explode(transform(
        sequence(lit(0), ((size($"ts") - 1) / 10).cast("int")),
        i => concat_ws(" ", slice($"ts", i * 10 + 1, lit(10))))).as("chunk"))
      .select($"doc_id", portableHash($"chunk").as("h"))
    val freq = chunks.groupBy($"h").agg(count(lit(1)).as("n"))
    chunks.join(freq, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"n" > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .orderBy($"doc_id")
  }

  /** CONTENT-DEFINED chunking dedup (the rsync/LBFS rolling-hash cut rule,
    * Muthitacharoen et al. 2001, at token granularity): a boundary falls
    * AFTER token i whenever the hash of the trailing 3-token window is
    * ≡ 0 mod 8 (expected chunk ≈ 8 tokens), so chunk edges are decided by
    * LOCAL content, not absolute position. This is the dedup mode
    * [[dupChunks]]' aligned fixed windows miss: insert one token near the
    * head of a copied document and every 10-aligned chunk after it shifts
    * and stops hashing equal, while CDC boundaries re-synchronize within
    * one window of the edit and every later chunk still matches. Per doc:
    * chunk count, duplicated-chunk count, and duplicated-token mass.
    *
    * Scale shape: one posexplode, two doc-partitioned windows (trailing
    * 3-gram via lag + running boundary count — both bounded by document
    * length), a (doc, chunk)-keyed rollup that reduces each chunk to its
    * 60-bit digest, then the [[dupChunks]] tail: digest-keyed count +
    * digest-keyed join back and a doc-keyed rollup. Text never shuffles
    * past the chunk rollup; nothing is quadratic in duplicate count. */
  val cdcChunks: QueryDef = QueryDef(
    "llm_cdc_chunks",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |p AS (SELECT doc_id, i, ts[i] AS tok,
      |             CASE WHEN i >= 3 AND ('0x' || substr(md5(array_to_string(ts[i-2:i], ' ')), 1, 15))::BIGINT % 8 = 0
      |                  THEN 1 ELSE 0 END AS bnd
      |      FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)),
      |c AS (SELECT doc_id, i, tok,
      |             coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ck
      |      FROM p),
      |ch AS (SELECT doc_id, ck, CAST(count(*) AS BIGINT) AS n_toks,
      |              ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY i)), 1, 15))::BIGINT AS h
      |       FROM c GROUP BY doc_id, ck),
      |fr AS (SELECT h, count(*) AS n FROM ch GROUP BY h)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(CASE WHEN fr.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      |       CAST(sum(CASE WHEN fr.n > 1 THEN ch.n_toks ELSE 0 END) AS BIGINT) AS n_dup_tokens
      |FROM ch JOIN fr USING (h)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    cdcChunksOf(Tables.documents(spark, dir))
  }

  /** The CDC chunk frame `(doc_id, ck, n_toks, h)` over any
    * `(doc_id, text)` frame — the cut rule + per-chunk digest, shared by
    * [[cdcChunks]] and the streaming ingest twin
    * ([[graft.streaming.StreamingOps]] `stream_cdc_dedup`). */
  private[graft] def cdcChunkFrameOf(documents: DataFrame): DataFrame =
    // Round-18 (§4 + §2.4): the cut rule + per-chunk digest run in the
    // native [[graft.functions.CdcChunks]] expression — ONE linear pass
    // over the text bytes per document, no posexplode, no doc-partitioned
    // windows, no collect_list re-assembly, and the only shuffle left in
    // the frame is whatever the CALLER keys on. The declarative form
    // (`TextWitnesses.cdcChunkFrameHofOf` in the test sources) is the A/B
    // witness; values are identical because tokens are split(text, ' ')
    // (single-byte separator), so every window/chunk md5 hashes the exact
    // byte slice the declarative concat_ws re-built.
    documents
      .select($"doc_id", explode(call_function("cdc_chunks", $"text")).as("c"))
      .select($"doc_id", $"c.ck".as("ck"), $"c.n_toks".as("n_toks"),
        $"c.h".as("h"))

  /** The CDC pipeline over any `(doc_id, text)` frame — extracted for the
    * insertion-robustness spec. */
  private[graft] def cdcChunksOf(documents: DataFrame): DataFrame = {
    val ch = cdcChunkFrameOf(documents)
    val fr = ch.groupBy($"h").agg(count(lit(1)).as("n"))
    ch.join(fr, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"n" > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when($"n" > 1, $"n_toks").otherwise(0L)).as("n_dup_tokens"))
      .orderBy($"doc_id")
  }

  /** SUBSTRING-level dedup readout (the ExactSubstr signal of Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better",
    * approximated at 5-token granularity): every 5-token gram occurring
    * ≥ 2× corpus-wide marks its positions duplicated, overlapping-or-
    * adjacent duplicated gram intervals `[i, i+4]` merge into MAXIMAL
    * spans per document, and each doc reports its span count, covered
    * token count, and covered fraction. This is the dedup mode the rest
    * of the matrix misses: a boilerplate substring shared across documents
    * that straddles a chunk boundary never hashes equal in
    * [[dupChunks]]'s aligned chunks, and whole-doc/Jaccard signals ignore
    * sub-document structure entirely (a suffix-array pass in the original
    * paper; the gram-join form is its standard distributed surrogate —
    * any shared run of ≥ 5 tokens is caught, with boundary granularity
    * ±4 tokens).
    *
    * Scale shape: grams shuffle as (doc_id, position, 60-bit hash) — never
    * text — through one hash-keyed count and one hash-keyed join back;
    * span merging is a per-document window (bounded by document length,
    * never corpus size); the rollup is doc-keyed. No pair expansion
    * anywhere: cost stays linear in corpus token count no matter how many
    * documents share a span (the pathological everyone-quotes-it snippet
    * costs its occurrence count, not occurrences²). */
  /** Oracle CTE chain ending in `spans (doc_id, span_id, s, e)` — the SQL
    * twin of [[spanFrameOf]], shared by [[dupSpans]] and [[despanApply]]. */
  private val spanCtes: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |g AS (SELECT doc_id, i,
      |             ('0x' || substr(md5(array_to_string(ts[i:i+4], ' ')), 1, 15))::BIGINT AS h
      |      FROM toks, unnest(range(1, len(ts) - 3)) AS t(i)
      |      WHERE len(ts) >= 5),
      |fr AS (SELECT h, count(*) AS n FROM g GROUP BY h),
      |dup AS (SELECT g.doc_id, g.i FROM g JOIN fr USING (h) WHERE fr.n >= 2),
      |isl AS (SELECT doc_id, i,
      |               CASE WHEN i > coalesce(max(i + 4) OVER (PARTITION BY doc_id ORDER BY i
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
      |                    THEN 1 ELSE 0 END AS new_span
      |        FROM dup),
      |sp AS (SELECT doc_id, i,
      |              sum(new_span) OVER (PARTITION BY doc_id ORDER BY i) AS span_id
      |       FROM isl),
      |spans AS (SELECT doc_id, span_id, min(i) AS s, max(i) + 4 AS e
      |          FROM sp GROUP BY 1, 2)""".stripMargin

  val dupSpans: QueryDef = QueryDef(
    "llm_dup_spans",
    spanCtes +
      """,
        |agg AS (SELECT doc_id, count(*) AS n_dup_spans, sum(e - s + 1) AS n_dup_tokens
        |        FROM spans GROUP BY 1)
        |SELECT t.doc_id, len(t.ts)::BIGINT AS n_tokens,
        |       coalesce(a.n_dup_spans, 0)::BIGINT AS n_dup_spans,
        |       coalesce(a.n_dup_tokens, 0)::BIGINT AS n_dup_tokens,
        |       round(coalesce(a.n_dup_tokens, 0) / len(t.ts), 6) AS dup_frac
        |FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin,
  ) { (spark, dir) => dupSpansOf(Tables.documents(spark, dir)) }

  /** The ExactSubstr DELETION step — [[dupSpans]] identifies, this
    * APPLIES (the `llm_pii_scan` → `llm_pii_redact` pairing on the
    * substring-dedup lane): every token inside a merged duplicate span is
    * removed and the surviving tokens are re-joined in position order.
    * Policy: ALL occurrences of a duplicated span are dropped (the
    * behavior of Lee et al. 2021's released dedup tool — simple, safe,
    * and the paper reports no quality loss from the stronger form);
    * keep-one-occurrence is a policy knob a deployment could layer on by
    * exempting the corpus-wide minimal (doc_id, position) occurrence.
    * The cleaned text leaves the executor only as a digest plus counts
    * (the [[CompositionOps.piiRedact]] convention).
    *
    * Scale shape: span finding is the audited [[spanFrameOf]] lane; the
    * deletion is a doc-keyed positions×spans range join (spans per doc
    * are few and short) and one doc-keyed ordered re-assembly; nothing
    * joins two corpus-sized sides on a non-key. */
  val despanApply: QueryDef = QueryDef(
    "llm_despan_apply",
    spanCtes +
      """,
        |pos AS (SELECT doc_id, i, ts[i] AS w
        |        FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)),
        |kept AS (SELECT p.doc_id, p.i, p.w FROM pos p
        |         WHERE NOT EXISTS (SELECT 1 FROM spans s
        |                           WHERE s.doc_id = p.doc_id
        |                             AND p.i BETWEEN s.s AND s.e)),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |               array_to_string(list(w ORDER BY i), ' ') AS cleaned
        |        FROM kept GROUP BY 1)
        |SELECT t.doc_id, len(t.ts)::BIGINT AS n_tokens,
        |       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
        |       (len(t.ts) - coalesce(r.n_kept, 0))::BIGINT AS n_dropped,
        |       md5(coalesce(r.cleaned, '')) AS cleaned_digest
        |FROM toks t LEFT JOIN reb r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin,
  ) { (spark, dir) => despanApplyOf(Tables.documents(spark, dir)) }

  /** [[despanApply]] over any (doc_id, text) frame — fixture seam. */
  private[graft] def despanApplyOf(documents: DataFrame): DataFrame = {
    val docs = documents.select($"doc_id", tokens.as("ts"))
    val spans = spanFrameOf(docs)
    val pos = docs.select($"doc_id",
      posexplode($"ts").as(Seq("p0", "w")))
      .select($"doc_id", ($"p0" + 1).as("i"), $"w")
    val kept = pos.join(spans,
        pos("doc_id") === spans("doc_id") &&
          $"i" >= $"s" && $"i" <= $"e", "left_anti")
    val reb = kept.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct($"i", $"w"))), x => x.getField("w")))
          .as("cleaned"))
    docs.select($"doc_id", size($"ts").cast("long").as("n_tokens"))
      .join(reb, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        ($"n_tokens" - coalesce($"n_kept", lit(0L))).as("n_dropped"),
        md5(coalesce($"cleaned", lit(""))).as("cleaned_digest"))
      .orderBy($"doc_id")
  }

  /** Merged maximal duplicate spans `(doc_id, span_id, s, e)` over a
    * (doc_id, ts) token frame: 5-gram hashes → globally-duplicated gram
    * starts → per-doc island merge. Shared by [[dupSpans]] (the readout)
    * and [[despanApply]] (the deletion). */
  private def spanFrameOf(docs: DataFrame): DataFrame = {
    val grams = docs.filter(size($"ts") >= 5)
      .select($"doc_id", explode(transform(sequence(lit(1), size($"ts") - 4),
        i => struct(i.as("i"),
          portableHash(concat_ws(" ", slice($"ts", i, lit(5)))).as("h")))).as("g"))
      .select($"doc_id", $"g.i".as("i"), $"g.h".as("h"))
    val freq = grams.groupBy($"h").agg(count(lit(1)).as("n"))
    val dup = grams.join(freq.filter($"n" >= 2), "h").select($"doc_id", $"i")
    val wPrev = Window.partitionBy($"doc_id").orderBy($"i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy($"doc_id").orderBy($"i")
    dup
      .withColumn("new_span",
        when($"i" > coalesce(max($"i" + 4).over(wPrev), lit(-1)) + 1, 1)
          .otherwise(0))
      .withColumn("span_id", sum($"new_span").over(wRun))
      .groupBy($"doc_id", $"span_id")
      .agg(min($"i").as("s"), (max($"i") + 4).as("e"))
  }

  /** [[dupSpans]] over an arbitrary (doc_id, text) frame — extracted so the
    * spec can plant a shared substring and watch its grams merge into one
    * maximal span. */
  private[graft] def dupSpansOf(documents: DataFrame): DataFrame = {
    val docs = documents.select($"doc_id", tokens.as("ts"))
    val spans = spanFrameOf(docs)
    val agg = spans.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum($"e" - $"s" + 1).cast("long").as("n_dup_tokens"))
    docs.select($"doc_id", size($"ts").cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"),
        coalesce($"n_dup_tokens", lit(0L)).as("n_dup_tokens"),
        round(coalesce($"n_dup_tokens", lit(0L)).cast("double") / $"n_tokens", 6)
          .as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** Minimum repeat length / suffix-sort bucket key width for
    * [[suffixRepeats]] (matches [[dupSpans]]' 5-gram granularity). */
  private val SufK = 5

  /** Suffix truncation horizon for [[suffixRepeats]] — repeats longer than
    * 30 tokens report as 30 (the "long enough to be boilerplate" cap). */
  private val SufL = 30

  /** MAXIMAL repeated substrings with EXACT lengths — the genuinely
    * suffix-array-shaped readout the gram surrogate in [[dupSpans]] cannot
    * give (it marks positions with ±4-token boundary slop and never says
    * how long the repeat actually is). Classic suffix-array result: the
    * repeated substrings of a corpus are exactly the longest-common-
    * prefixes of lexicographically ADJACENT suffixes. Distributed form:
    * suffixes sharing a prefix are contiguous in sorted order, so
    * bucketing every suffix by its first [[SufK]] tokens keeps ALL
    * adjacencies with LCP ≥ [[SufK]] inside one bucket — the global
    * suffix sort becomes a bucket-partitioned window, never a single
    * partition. Per repeated [[SufK]]-gram the op reports: `rep_len` = the
    * longest repeated extension of that gram (exact, capped at [[SufL]]),
    * `rep_text` = the lexicographically-smallest maximal extension
    * achieving it, `n_occ` = the gram's corpus occurrence count
    * (self-overlaps within one document count, standard SA semantics);
    * top 50 by (rep_len DESC, gram). LCP is a monotone fold — Σ over
    * i ≤ [[SufL]] of [prefix-i slices equal] — identical in both engines,
    * so every row is exact-integer oracle-checkable.
    *
    * Scale shape: suffix emission is map-only and bounded by [[SufL]] ×
    * corpus tokens; every shuffle (window, both groupBys, both joins) is
    * keyed on the gram bucket. A viral boilerplate gram concentrates its
    * occurrences in one bucket — cost is that gram's occurrence count,
    * not its square (pairs come from SORTED ADJACENCY, n−1 per bucket,
    * not n²); AQE skew splitting applies to the sort. At 100 TB the
    * production variant drops `sufs` for a rank-doubling key, but the
    * [[SufL]]-horizon string is the standard bounded-context surrogate
    * (matches Lee et al. 2021's minimum-match-length practice). */
  val suffixRepeats: QueryDef = QueryDef(
    "llm_suffix_repeats",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
       |suf AS (SELECT doc_id, i, list_slice(ts, i, i + ${SufL - 1}) AS suf,
       |               array_to_string(list_slice(ts, i, i + ${SufK - 1}), ' ') AS bucket,
       |               array_to_string(list_slice(ts, i, i + ${SufL - 1}), ' ') AS sufs
       |        FROM toks, unnest(range(1, len(ts) - ${SufK - 2})) AS t(i)
       |        WHERE len(ts) >= $SufK),
       |p AS (SELECT bucket, suf,
       |             lag(suf) OVER (PARTITION BY bucket
       |                            ORDER BY sufs, doc_id, i) AS prev
       |      FROM suf),
       |pr AS (SELECT bucket, suf,
       |              list_sum(list_transform(range(1, ${SufL + 1}), i ->
       |                CASE WHEN list_slice(suf, 1, i) = list_slice(prev, 1, i)
       |                     THEN 1 ELSE 0 END)) AS lcp
       |       FROM p WHERE prev IS NOT NULL),
       |bm AS (SELECT bucket, max(lcp) AS rep_len FROM pr GROUP BY 1),
       |rt AS (SELECT pr.bucket, bm.rep_len,
       |              min(array_to_string(list_slice(pr.suf, 1, bm.rep_len), ' ')) AS rep_text
       |       FROM pr JOIN bm ON pr.bucket = bm.bucket AND pr.lcp = bm.rep_len
       |       GROUP BY 1, 2),
       |oc AS (SELECT bucket, count(*) AS n_occ FROM suf GROUP BY 1)
       |SELECT rt.bucket, CAST(rt.rep_len AS BIGINT) AS rep_len, rt.rep_text,
       |       CAST(oc.n_occ AS BIGINT) AS n_occ
       |FROM rt JOIN oc USING (bucket)
       |ORDER BY rep_len DESC, bucket LIMIT 50""".stripMargin,
  ) { (spark, dir) =>
    suffixRepeatsOf(Tables.documents(spark, dir).select($"doc_id", tokens.as("ts")))
  }

  /** [[suffixRepeats]] over any (doc_id, ts) token frame — fixture seam.
    *
    * Round-18 restructure (§2.3 shuffle fewer bytes / §2.4 remove
    * shuffles): (a) the bucket window no longer ships the 30-token `suf`
    * ARRAY next to its own string join — the array is re-derived after
    * the shuffle by `split(sufs, " ")`, exact because tokens are
    * space-free (tokens come from splitting on space) and Spark's split
    * keeps trailing empties, so join∘split is the identity on the slice;
    * (b) the per-bucket max LCP is a second WINDOW over the same bucket
    * partitioning (no new exchange) instead of a groupBy + join back —
    * which also means the pairs subtree is evaluated ONCE, where the old
    * join read it twice uncached; (c) the occurrence counts re-derive a
    * THIN (bucket)-only explode instead of scanning the wide suffix
    * frame a third time. */
  private[graft] def suffixRepeatsOf(docs: DataFrame): DataFrame = {
    val sufs = docs.filter(size($"ts") >= SufK)
      .select($"doc_id", explode(transform(sequence(lit(1), size($"ts") - (SufK - 1)),
        i => struct(i.as("i"),
          concat_ws(" ", slice($"ts", i, lit(SufK))).as("bucket"),
          concat_ws(" ", slice($"ts", i, lit(SufL))).as("sufs")))).as("g"))
      .select($"doc_id", $"g.i".as("i"), $"g.bucket".as("bucket"),
        $"g.sufs".as("sufs"))
    val w = Window.partitionBy($"bucket").orderBy($"sufs", $"doc_id", $"i")
    val wB = Window.partitionBy($"bucket")
    val pairs = sufs
      .withColumn("prev", lag($"sufs", 1).over(w))
      .filter($"prev".isNotNull)
      .withColumn("suf", split($"sufs", " "))
      // LCP as one O(L) pass: positionwise equality (zip_with pads the
      // shorter side with null → null-safe-eq false = mismatch), then the
      // first-false position. Value-identical to the per-prefix-slice fold
      // it replaces (that one re-sliced both arrays per i — O(L²)
      // interpreted per pair, the top cost of the sf1 bench at 159 s),
      // INCLUDING the saturating convention both engines share: a pair
      // with no mismatch counts the full SufL horizon even when the
      // suffixes are tail-shortened (slice-beyond-length compares equal).
      .withColumn("eqs", zip_with($"suf", split($"prev", " "),
        (a, b) => a <=> b && a.isNotNull))
      .withColumn("lcp",
        when(array_position($"eqs", false) === 0, lit(SufL.toLong))
          .otherwise(array_position($"eqs", false) - 1L))
      .withColumn("rep_len", max($"lcp").over(wB))
      .filter($"lcp" === $"rep_len")
    val rep = pairs.groupBy($"bucket", $"rep_len")
      .agg(min(concat_ws(" ", slice($"suf", lit(1), $"rep_len"))).as("rep_text"))
    val occ = docs.filter(size($"ts") >= SufK)
      .select(explode(transform(sequence(lit(1), size($"ts") - (SufK - 1)),
        i => concat_ws(" ", slice($"ts", i, lit(SufK))))).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_occ"))
    rep.join(occ, "bucket")
      .select($"bucket", $"rep_len", $"rep_text", $"n_occ")
      .orderBy($"rep_len".desc, $"bucket").limit(50)
  }

  /** Per-document token (Shannon) entropy — the information-density twin
    * of [[repetition]]: keyword-stuffed and template boilerplate collapses
    * toward 0 bits while diverse text approaches ln(distinct). Computed as
    * `ln(n) − (Σ c·ln c)/n` over the per-token counts; each `c·ln c` term
    * is quantized to a 1e-6 BIGINT before the per-doc sum so the fold is
    * exact integer math in a deterministic order (the `llm_embed_centroid`
    * architecture applied inside an array fold). Pure per-doc array math —
    * no shuffle, linear scan, fully parallel at any corpus size; the
    * O(n·distinct) count form mirrors the oracle exactly (distinct ≤ 31 in
    * this vocab; the sorted-run fold in [[repetition]] is the swap if a
    * real corpus makes it hot). */
  val entropy: QueryDef = QueryDef(
    "llm_entropy",
    """SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
      |       CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
      |       round(ln(len(ts)) - CAST(list_sum(
      |         [CAST(round(c * ln(c) * 1000000) AS BIGINT)
      |          for c in [len(list_filter(ts, x -> x = w)) for w in list_distinct(ts)]]
      |       ) AS DOUBLE) / 1e6 / len(ts), 6) AS entropy
      |FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      |ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("ts"))
      .select($"doc_id", size($"ts").as("n"),
        size(array_distinct($"ts")).cast("long").as("n_distinct"),
        aggregate(
          // counts array FIRST, then one c*ln(c) pass — evaluating the
          // O(n) filter once per distinct token, not twice (measured ~2x
          // on the interpreted higher-order path)
          transform(
            transform(array_distinct($"ts"), w => size(filter($"ts", x => x === w))),
            c => round(c * log(c) * 1000000).cast("long")),
          lit(0L), (acc, t) => acc + t).as("s"))
      .select($"doc_id", $"n".cast("long").as("n_tokens"), $"n_distinct",
        round(log($"n") - $"s".cast("double") / 1e6 / $"n", 6).as("entropy"))
      .orderBy($"doc_id")
  }

  /** Overlapping chunk split (50-token windows every 40 tokens — the
    * RAG/pretraining chunking step): starts at every 40-token stride,
    * ceil(n/40) chunks per doc, short tail chunks kept. Emits the portable
    * 60-bit hash of each chunk (not its text), so the oracle compare pins
    * exact chunk CONTENT while the result stays narrow — the same
    * shuffle-digests-not-text discipline as the dedup family. Map-only:
    * per-doc array algebra, one output row per chunk. */
  val chunkSplit: QueryDef = QueryDef(
    "llm_chunk_split",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |c AS (SELECT doc_id,
      |             unnest([{'idx': i, 'chunk': array_to_string(ts[i*40+1 : i*40+50], ' ')}
      |                     for i in range(0, CAST(ceil(len(ts) / 40.0) AS BIGINT))]) AS u
      |      FROM t)
      |SELECT doc_id, CAST(u.idx AS BIGINT) AS chunk_idx,
      |       len(string_split(u.chunk, ' '))::BIGINT AS n_chunk_tokens,
      |       ('0x' || substr(md5(u.chunk), 1, 15))::BIGINT AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select($"doc_id", tokens.as("ts"))
      .select($"doc_id", posexplode(
        transform(sequence(lit(0), ceil(size($"ts") / lit(40.0)).cast("int") - 1),
          i => concat_ws(" ", slice($"ts", i * 40 + 1, lit(50))))))
      .select($"doc_id", $"pos".cast("long").as("chunk_idx"),
        size(split($"col", " ")).cast("long").as("n_chunk_tokens"),
        portableHash($"col").as("chunk_hash"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Corpus-wide adjacent-token pair frequencies, top-20 — the counting
    * step of the first BPE merge (Sennrich et al. 2016): the pair a
    * tokenizer trainer would fuse next. Per-doc array expansion, one
    * pair-keyed aggregate, TakeOrdered head. */
  val bpePairs: QueryDef = QueryDef(
    "llm_bpe_pairs",
    """SELECT pair, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT unnest([array_to_string(ts[i : i+1], ' ')
      |                     for i in range(1, len(ts))]) AS pair
      |      FROM (SELECT string_split(text, ' ') AS ts FROM documents)
      |      WHERE len(ts) >= 2)
      |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(tokens.as("ts"))
      .filter(size($"ts") >= 2)
      .select(explode(transform(sequence(lit(1), size($"ts") - 1),
        i => concat_ws(" ", slice($"ts", i, lit(2))))).as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(20)
  }

  /** Number of successive merges [[bpeTrain]] learns. */
  private val BpeMerges = 6

  /** One greedy left-to-right BPE merge of (p1, p2) in a symbol sequence:
    * fold each symbol onto the accumulator, fusing when the accumulator's
    * last element is p1 and the incoming symbol is p2. Greedy no-overlap
    * comes free: a just-fused tail equals p1+p2, which can never equal p1
    * again (p2 is non-empty), so a merge can't chain into the span the
    * previous merge consumed — exactly the semantics of a left-to-right
    * scan. `get` is the null-safe indexer, so the empty-accumulator case
    * falls through to append without tripping ANSI bounds checks. */
  private def mergePair(syms: Column, p1: Column, p2: Column): Column =
    aggregate(syms, typedLit(Seq.empty[String]), (acc, t) =>
      when(get(acc, size(acc) - 1) === p1 && t === p2,
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(p1, p2))))
        .otherwise(concat(acc, array(t))))

  /** The BPE fixed point over any frame with a `text` column: runs k merge
    * rounds and returns (per-round winner DFs, final word symbol table
    * `(w, syms, wc)`). Shared by [[bpeTrain]] (the merge table) and
    * [[bpeEncode]] (tokenizer application), and extracted so the fixture
    * spec drives the registered queries' real loop (weighting, tiebreaks,
    * greedy merge) on hand-checkable data. */
  /** Distinct-word symbol table `(w, syms, wc)` over any text frame —
    * the BPE training/application state. */
  private def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(tokens).as("w"))
      // the '#' guard: BPE symbol strings are '#'-delimited ('#s1##s2#'),
      // so a corpus word containing a literal '#' would corrupt the
      // oracle's trim/split replay AND the round-trip readout
      // (llm_tok_agreement's roundtrip_ok). The synthetic corpus is
      // alphabetic — this filter is a data no-op at every tested SF —
      // but the delimiter convention is load-bearing, so the guard is
      // structural on BOTH engines (oracle w0/hw0 mirror it).
      .filter(length($"w") > 0 && !$"w".contains("#"))
      .groupBy($"w").agg(count(lit(1)).as("wc"))
      .select($"w", transform(sequence(lit(1), length($"w")),
        i => $"w".substr(i, lit(1))).as("syms"), $"wc")

  /** APPLY a learned merge sequence to a fresh word table — the
    * tokenizer-application path for words the training corpus never saw
    * (the [[bpeEval]] held-out side). Empty winner rounds (pair
    * exhaustion) are skipped, the [[bpeLoop]] rule. */
  private[graft] def bpeApply(words: DataFrame, merges: Seq[DataFrame]): DataFrame = {
    var w = graft.Caches.localCheckpoint(words)
    merges.foreach { m =>
      if (!m.isEmpty)
        w = graft.Caches.localCheckpoint(
          w.crossJoin(broadcast(m.select($"p1".as("mp1"), $"p2".as("mp2"))))
            .select($"w", mergePair($"syms", $"mp1", $"mp2").as("syms"), $"wc"))
    }
    w
  }

  private[graft] def bpeLoop(docs: DataFrame, k: Int): (Seq[DataFrame], DataFrame) = {
    var words = graft.Caches.localCheckpoint(wordTable(docs))
    val merges = (1 to k).map { r =>
      val pairCounts = words.filter(size($"syms") >= 2)
        .select($"wc", explode(transform(sequence(lit(1), size($"syms") - 1),
          i => struct(element_at($"syms", i).as("p1"),
            element_at($"syms", i + 1).as("p2")))).as("pr"))
        .groupBy($"pr.p1".as("p1"), $"pr.p2".as("p2"))
        .agg(sum($"wc").as("n"))
      val top = graft.Caches.localCheckpoint(
        pairCounts.orderBy($"n".desc, $"p1", $"p2").limit(1))
      // pair supply can run dry before round k (every word down to one
      // symbol): the winner is then EMPTY, and cross-joining it would wipe
      // the whole symbol table — so the rewrite only applies when a winner
      // exists, and later rounds just emit further empty winner rows. The
      // isEmpty probe is one job over a checkpointed 1-row frame.
      if (!top.isEmpty)
        words = graft.Caches.localCheckpoint(
          words.crossJoin(broadcast(top.select($"p1".as("mp1"), $"p2".as("mp2"))))
            .select($"w", mergePair($"syms", $"mp1", $"mp2").as("syms"), $"wc"))
      top.select(lit(r.toLong).as("round"), $"p1", $"p2", $"n")
    }
    (merges, words)
  }

  /** HELD-OUT tokenizer evaluation — the overfit check every trained
    * tokenizer ships with: train the [[BpeMerges]]-round merge table on
    * the EVEN-doc_id half only, apply it to both halves ([[bpeApply]]
    * encodes words the training half never saw, starting from
    * characters), and compare per-split fertility (chars per token). A
    * merge table that only memorized its training vocabulary shows a
    * held-out compression cliff; one that learned real subword structure
    * compresses both splits similarly — the gap IS the readout. Scale
    * shape: both symbol tables are vocab-sized; application is the same
    * broadcast 1-row-per-round rewrite as training; the readout joins
    * each split's token stream to its broadcast word table. */
  val bpeEval: QueryDef = QueryDef(
    "llm_bpe_eval",
    bpeCtes(BpeMerges, " WHERE doc_id % 2 = 0") + ",\n" +
      s"""hw0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wc
         |        FROM (SELECT unnest(string_split(text, ' ')) AS w
         |              FROM documents WHERE doc_id % 2 = 1)
         |        WHERE len(w) > 0 AND NOT contains(w, '#') GROUP BY w),
         |hr0 AS (SELECT w, '#' || array_to_string([w[i] for i in range(1, len(w)+1)], '##') || '#' AS t, wc
         |        FROM hw0),
         |${(1 to BpeMerges).map(i =>
              s"""hr$i AS (SELECT r.w, replace(r.t, '#' || b.p1 || '##' || b.p2 || '#',
                 |                        '#' || b.p1 || b.p2 || '#') AS t, r.wc
                 |         FROM hr${i - 1} r, tp$i b)""".stripMargin).mkString(",\n")},
         |ttok AS (SELECT w, CAST(len(string_split(trim(t, '#'), '##')) AS BIGINT) AS ntok
         |         FROM rr$BpeMerges),
         |htok AS (SELECT w, CAST(len(string_split(trim(t, '#'), '##')) AS BIGINT) AS ntok
         |         FROM hr$BpeMerges),
         |tws AS (SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w
         |                       FROM documents WHERE doc_id % 2 = 0) WHERE len(w) > 0),
         |hws AS (SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w
         |                       FROM documents WHERE doc_id % 2 = 1) WHERE len(w) > 0)
         |SELECT * FROM (
         |  SELECT 'heldout' AS split, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |         CAST(sum(len(w)) AS BIGINT) AS n_chars,
         |         round(CAST(sum(len(w)) AS DOUBLE) / sum(ntok), 4) AS chars_per_token
         |  FROM hws JOIN htok USING (w)
         |  UNION ALL
         |  SELECT 'train', CAST(count(*) AS BIGINT), CAST(sum(ntok) AS BIGINT),
         |         CAST(sum(len(w)) AS BIGINT),
         |         round(CAST(sum(len(w)) AS DOUBLE) / sum(ntok), 4)
         |  FROM tws JOIN ttok USING (w))
         |ORDER BY split""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(pmod($"doc_id", lit(2)) === 0)
    val held = docs.filter(pmod($"doc_id", lit(2)) === 1)
    val (merges, tw) = bpeLoop(train, BpeMerges)
    val hw = bpeApply(wordTable(held), merges)
    def readout(split: String, stream: DataFrame, wtab: DataFrame) =
      stream.select(explode(tokens).as("w")).filter(length($"w") > 0)
        .join(broadcast(wtab.select($"w", size($"syms").cast("long").as("ntok"))), "w")
        .agg(count(lit(1)).as("n_words"), sum($"ntok").as("n_tokens"),
          sum(length($"w")).cast("long").as("n_chars"))
        .select(lit(split).as("split"), $"n_words", $"n_tokens", $"n_chars",
          round($"n_chars".cast("double") / $"n_tokens", 4).as("chars_per_token"))
    readout("heldout", held, hw).unionAll(readout("train", train, tw))
      .orderBy($"split")
  }

  /** See [[bpeTrain]]. */
  private[graft] def bpeTrainOf(docs: DataFrame, k: Int): DataFrame =
    bpeLoop(docs, k)._1.reduce(_ unionAll _).orderBy($"round")

  /** See [[bpeTrain]]: the identical fixed point unrolled to k chained CTE
    * rounds. Words are carried as boundary-anchored '#'-joined symbol
    * strings ('#s1##s2#…'), which makes DuckDB's left-to-right
    * non-overlapping `replace('#p1##p2#' → '#p1p2#')` exactly the greedy
    * BPE merge — sound because w0 structurally excludes words containing
    * '#' on BOTH engines (see [[wordTable]]: the guard is a data no-op on
    * the alphabetic synthetic corpus but load-bearing for the delimiter
    * convention), so a pattern can never straddle a token boundary. */
  private def bpeCtes(k: Int, srcWhere: String = ""): String = {
    val rounds = (1 to k).map { i =>
      s"""pc$i AS (SELECT u['p1'] AS p1, u['p2'] AS p2, CAST(sum(wc) AS BIGINT) AS n
         |         FROM (SELECT string_split(trim(t, '#'), '##') AS l, wc FROM rr${i - 1}),
         |              unnest([{'p1': l[i], 'p2': l[i+1]} for i in range(1, len(l))]) AS z(u)
         |         GROUP BY 1, 2),
         |tp$i AS (SELECT p1, p2, n FROM pc$i ORDER BY n DESC, p1, p2 LIMIT 1),
         |rr$i AS (SELECT r.w, replace(r.t, '#' || b.p1 || '##' || b.p2 || '#',
         |                        '#' || b.p1 || b.p2 || '#') AS t, r.wc
         |         FROM rr${i - 1} r, tp$i b)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wc
       |            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents$srcWhere)
       |            WHERE len(w) > 0 AND NOT contains(w, '#') GROUP BY w),
       |rr0 AS (SELECT w, '#' || array_to_string([w[i] for i in range(1, len(w)+1)], '##') || '#' AS t, wc
       |        FROM w0),
       |$rounds""".stripMargin
  }

  private def bpeTrainSql(k: Int): String = {
    val finals = (1 to k)
      .map(i => s"SELECT CAST($i AS BIGINT) AS round, p1, p2, n FROM tp$i")
      .mkString(" UNION ALL ")
    s"""${bpeCtes(k)}
       |SELECT * FROM ($finals) ORDER BY round""".stripMargin
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016) — [[BpeMerges]]
    * successive merge rounds, not just the first pair count
    * ([[bpePairs]]): each round counts adjacent symbol pairs over the
    * distinct-word symbol table (weighted by corpus word frequency), fuses
    * the most frequent pair corpus-wide (ties broken lexicographically on
    * the pair), and rewrites every word's symbol sequence before the next
    * round — the clusterLsOf/pageRankOf iteration pattern applied to
    * vocabulary learning, with per-round localCheckpoint lineage
    * truncation on both the 1-row winner and the rewritten table.
    *
    * Scale shape: training state is the DISTINCT-word symbol table
    * (vocab-sized — orders of magnitude smaller than the corpus) plus one
    * exact BIGINT count per word mined in a single corpus pass; each round
    * is one pair-keyed aggregate over that table and a broadcast 1-row
    * scalar join applying the merge. Counts and tiebreaks are exact
    * integers, so the learned merge table is hash-verified end-to-end
    * against the DuckDB replay. */
  val bpeTrain: QueryDef = QueryDef(
    "llm_bpe_train",
    bpeTrainSql(BpeMerges),
  ) { (spark, dir) =>
    bpeTrainOf(Tables.documents(spark, dir), BpeMerges)
  }

  /** Tokenizer APPLICATION — the second half of [[bpeTrain]]: encode the
    * corpus with the learned merges and report the per-language
    * compression the vocabulary buys (words, tokens, chars,
    * chars-per-token). This is the readout that decides whether the merge
    * budget was worth it, and at 100 TB it is exactly how encoding runs:
    * the final symbol table is vocab-sized, broadcast to a single
    * map-side equi-join against the exploded corpus — the trained state
    * never shuffles with the data. Oracle replays training AND encoding
    * from the same unrolled fixed point, so the whole train→apply lane is
    * hash-verified. */
  val bpeEncode: QueryDef = QueryDef(
    "llm_bpe_encode",
    s"""${bpeCtes(BpeMerges)},
       |wtok AS (SELECT w, CAST(len(string_split(trim(t, '#'), '##')) AS BIGINT) AS ntok
       |         FROM rr$BpeMerges),
       |dw AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |       CAST(sum(len(w)) AS BIGINT) AS n_chars,
       |       round(CAST(sum(len(w)) AS DOUBLE) / sum(ntok), 4) AS chars_per_token
       |FROM dw JOIN wtok USING (w)
       |WHERE len(w) > 0
       |GROUP BY lang ORDER BY lang""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val wtok = bpeLoop(docs, BpeMerges)._2
      .select($"w", size($"syms").cast("long").as("ntok"))
    docs.select($"lang", explode(tokens).as("w"))
      .filter(length($"w") > 0)
      .join(broadcast(wtok), "w")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"), sum($"ntok").as("n_tokens"),
        sum(length($"w")).cast("long").as("n_chars"))
      .select($"lang", $"n_words", $"n_tokens", $"n_chars",
        round($"n_chars".cast("double") / $"n_tokens", 4).as("chars_per_token"))
      .orderBy($"lang")
  }

  /** C4/Gopher-style quality-filter cascade in ONE pass: every signal the
    * pipeline computes separately ([[tokenCount]], [[quality]],
    * [[repetition]], [[entropy]]) evaluated per document, with the FIRST
    * failing rule recorded as the drop reason — the end-to-end curation
    * decision a training pipeline applies before packing. All predicates
    * are exact-integer comparisons (counts, quantized entropy), so the
    * verdict is hash-stable cross-engine. Map-only over the corpus. */
  /** Shared cascade-signal SQL (expects a CTE `t(doc_id, ..., ts)`): the
    * per-doc counts, trigram set, and quantized entropy every verdict
    * consumer derives rules from. */
  private val cascadeSignalsSql =
    """s AS (SELECT doc_id, ts, len(ts) AS n,
      |             len(list_filter(ts, x -> x IN ('the', 'a', 'of', 'and'))) AS stop_hits,
      |             list_max([len(list_filter(ts, x -> x = w)) for w in list_distinct(ts)]) AS top_cnt,
      |             CASE WHEN len(ts) >= 3
      |                  THEN [array_to_string(ts[i : i+2], ' ') for i in range(1, len(ts) - 1)]
      |                  ELSE []::VARCHAR[] END AS tri,
      |             CAST(round((ln(len(ts)) - CAST(list_sum(
      |               [CAST(round(c * ln(c) * 1000000) AS BIGINT)
      |                for c in [len(list_filter(ts, x -> x = w)) for w in list_distinct(ts)]]
      |             ) AS DOUBLE) / 1e6 / len(ts)) * 1000000) AS BIGINT) AS eq
      |      FROM t),
      |r AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      |             CASE WHEN n < 20 THEN 'too_short'
      |                  WHEN n > 1000 THEN 'too_long'
      |                  WHEN stop_hits * 20 < n THEN 'low_stopword'
      |                  WHEN top_cnt * 5 > n THEN 'repetitive_top'
      |                  WHEN (len(tri) - len(list_distinct(tri))) * 10 > len(tri) * 3 THEN 'dup_trigrams'
      |                  WHEN eq < 1000000 THEN 'low_entropy'
      |                  ELSE 'keep' END AS reason
      |      FROM s)""".stripMargin

  /** Cascade verdict per document — (doc_id, n_tokens, reason, keep),
    * unordered; shared by [[filterCascade]] and [[corpusPipeline]]. */
  private[graft] def cascadeVerdict(docs: DataFrame): DataFrame = {
    val n = size($"ts")
    val tri = when(n >= 3,
      transform(sequence(lit(0), n - 3),
        i => concat_ws(" ", slice($"ts", i + 1, lit(3)))))
      .otherwise(array().cast("array<string>"))
    val entropyQ = round((log(n) - $"s".cast("double") / 1e6 / n) * 1000000)
      .cast("long")
    docs
      .select($"doc_id", tokens.as("ts"))
      .select($"doc_id", $"ts", n.as("n"),
        size(filter($"ts", x => x.isin("the", "a", "of", "and"))).as("stop_hits"),
        topRunCount($"ts").as("top_cnt"), tri.as("tri"),
        aggregate(
          // counts array FIRST, then one c*ln(c) pass — evaluating the
          // O(n) filter once per distinct token, not twice (measured ~2x
          // on the interpreted higher-order path)
          transform(
            transform(array_distinct($"ts"), w => size(filter($"ts", x => x === w))),
            c => round(c * log(c) * 1000000).cast("long")),
          lit(0L), (acc, t) => acc + t).as("s"))
      .select($"doc_id", $"n".cast("long").as("n_tokens"),
        when($"n" < 20, "too_short")
          .when($"n" > 1000, "too_long")
          .when($"stop_hits" * 20 < $"n", "low_stopword")
          .when($"top_cnt" * 5 > $"n", "repetitive_top")
          .when((size($"tri") - size(array_distinct($"tri"))) * 10 > size($"tri") * 3,
            "dup_trigrams")
          .when(entropyQ < 1000000L, "low_entropy")
          .otherwise("keep").as("reason"))
      .select($"doc_id", $"n_tokens", $"reason",
        when($"reason" === "keep", 1L).otherwise(0L).as("keep"))
  }

  val filterCascade: QueryDef = QueryDef(
    "llm_filter_cascade",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |$cascadeSignalsSql
       |SELECT doc_id, n_tokens, reason,
       |       CAST(CASE WHEN reason = 'keep' THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM r ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    cascadeVerdict(Tables.documents(spark, dir)).orderBy($"doc_id")
  }

  /** [[filterCascade]]'s native twin — the `llm_winnow`/`llm_winnow_native`
    * pattern applied to the cascade: the declarative verdict stays the
    * oracle-shaped ground truth, while this one computes every signal with
    * the codegen'd `cascade_sigs` expression (graft.functions.CascadeSigs)
    * — ONE linear hash-map pass per document instead of the interpreted
    * per-distinct-token `filter` scans that dominate the declarative
    * plan's cost. Same rules, same first-failing-reason semantics, and the
    * SAME DuckDB oracle (the expression's quantized entropy reproduces the
    * HOF arithmetic bit-for-bit, HALF_UP rounding included), so the
    * speedup is hash-verified, not trusted. */
  val filterCascadeNative: QueryDef = QueryDef(
    "llm_filter_cascade_native",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |$cascadeSignalsSql
       |SELECT doc_id, n_tokens, reason,
       |       CAST(CASE WHEN reason = 'keep' THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM r ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select($"doc_id", call_function("cascade_sigs", tokens).as("g"))
      .select($"doc_id", $"g.n".as("n_tokens"),
        when($"g.n" < 20, "too_short")
          .when($"g.n" > 1000, "too_long")
          .when($"g.stop_hits" * 20 < $"g.n", "low_stopword")
          .when($"g.top_cnt" * 5 > $"g.n", "repetitive_top")
          .when($"g.tri_dup" * 10 > $"g.tri_total" * 3, "dup_trigrams")
          .when($"g.eq" < 1000000L, "low_entropy")
          .otherwise("keep").as("reason"))
      .select($"doc_id", $"n_tokens", $"reason",
        when($"reason" === "keep", 1L).otherwise(0L).as("keep"))
      .orderBy($"doc_id")
  }

  /** The curation pipeline end-to-end in ONE plan: exact dedup (keep the
    * first copy of each byte-identical text) composed with the quality
    * cascade, rolled up to the per-language corpus yield — docs in, docs
    * kept, training tokens surviving. This is the query a data engineer
    * actually runs before a training job; it exists to prove the operators
    * COMPOSE as plain DataFrames (one digest-keyed aggregate + a map-only
    * verdict + a semi-join — no new shuffle shape beyond its parts). */
  val corpusPipeline: QueryDef = QueryDef(
    "llm_corpus_pipeline",
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts,
       |                  md5(text) AS dg FROM documents),
       |$cascadeSignalsSql,
       |fc AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY dg)
       |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN fc.doc_id IS NOT NULL AND r.reason = 'keep'
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN fc.doc_id IS NOT NULL AND r.reason = 'keep'
       |                     THEN r.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM t JOIN r USING (doc_id) LEFT JOIN fc USING (doc_id)
       |GROUP BY t.lang ORDER BY lang""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val firstCopy = docs.groupBy(md5($"text").as("dg"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", lit(1L).as("is_first"))
    docs.select($"doc_id", $"lang")
      .join(cascadeVerdict(docs).select($"doc_id", $"n_tokens", $"keep"), "doc_id")
      .join(firstCopy, Seq("doc_id"), "left")
      .select($"lang", $"n_tokens",
        (coalesce($"is_first", lit(0L)) * $"keep").as("kept"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"kept").as("n_kept"),
        sum(when($"kept" === 1L, $"n_tokens").otherwise(0L)).as("kept_tokens"))
      .orderBy($"lang")
  }

  /** One-row corpus "dataset card": the headline numbers a curation
    * pipeline publishes alongside the data — sizes, language breadth,
    * exact-duplicate rate, token-length quantiles. ONE aggregate pass;
    * the two `count(distinct ...)` expand the scan 3-way, which is fine
    * for a one-off card (the HLL-sketch swap in `sketch_hll_union` is the
    * repeated-dashboard form). Quantiles are the raw interpolated doubles,
    * bit-identical cross-engine per `sketch_percentile_exact`; the dup
    * rate is one division of exact counts. */
  val datasetCard: QueryDef = QueryDef(
    "llm_dataset_card",
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts,
      |                  md5(text) AS dg FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(sum(len(ts)) AS BIGINT) AS total_tokens,
      |       CAST(count(DISTINCT dg) AS BIGINT) AS n_unique_texts,
      |       round(CAST(count(*) - count(DISTINCT dg) AS DOUBLE) / count(*), 4) AS dup_rate,
      |       quantile_cont(len(ts), 0.5) AS p50_tokens,
      |       quantile_cont(len(ts), 0.95) AS p95_tokens
      |FROM t""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select($"lang", size(split($"text", " ")).as("n"), md5($"text").as("dg"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        sum($"n").cast("long").as("total_tokens"),
        countDistinct($"dg").as("n_unique_texts"),
        percentile($"n", array(lit(0.5), lit(0.95))).as("qs"))
      .select($"n_docs", $"n_langs", $"total_tokens", $"n_unique_texts",
        round(($"n_docs" - $"n_unique_texts").cast("double") / $"n_docs", 4)
          .as("dup_rate"),
        $"qs"(0).as("p50_tokens"), $"qs"(1).as("p95_tokens"))
  }

  /** Positional-index PHRASE query — the inverted-index primitive behind
    * exact-phrase retrieval: posting lists (doc, position) for each term,
    * intersected with the adjacency constraint `pos₂ = pos₁ + 1`. Self-
    * contained: the queried phrase is the corpus's own top bigram (computed
    * in-query under the [[pmiColloc]] tie rule), so the op needs no
    * parameter channel. Positions are engine-local ordinals (1- vs 0-based
    * never crosses engines — only the intra-engine adjacency matters).
    *
    * Scale shape: the postings for the two phrase terms equi-join on
    * doc_id — exactly how a distributed inverted index executes phrases;
    * the 1-row phrase pick re-enters by broadcast; top-20 is a
    * TakeOrdered. */
  val phraseSearch: QueryDef = QueryDef(
    "llm_phrase_search",
    """WITH toks AS (
      |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |bg AS (SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM toks),
      |top1 AS (SELECT w1, w2 FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2
      |         ORDER BY count(*) DESC, w1, w2 LIMIT 1),
      |p1 AS (SELECT t.doc_id, t.i FROM toks t JOIN top1 ON t.w = top1.w1),
      |p2 AS (SELECT t.doc_id, t.i FROM toks t JOIN top1 ON t.w = top1.w2),
      |hits AS (SELECT p1.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_occ
      |         FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND p2.i = p1.i + 1
      |         GROUP BY 1)
      |SELECT doc_id, n_occ FROM hits ORDER BY n_occ DESC, doc_id LIMIT 20""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(tokens).as(Seq("i", "w")))
    val top1 = toks
      .select($"w".as("w1"),
        lead($"w", 1).over(Window.partitionBy($"doc_id").orderBy($"i")).as("w2"))
      .filter($"w2".isNotNull)
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w1", $"w2").limit(1)
      .select($"w1", $"w2")
    val p1 = toks.join(broadcast(top1), $"w" === $"w1")
      .select($"doc_id", $"i")
    val p2 = toks.join(broadcast(top1), $"w" === $"w2")
      .select($"doc_id".as("doc_id2"), $"i".as("i2"))
    p1.join(p2, $"doc_id" === $"doc_id2" && $"i2" === $"i" + 1)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_occ"))
      .orderBy($"n_occ".desc, $"doc_id").limit(20)
  }

  /** Longest piece the [[unigramSegment]] vocabulary admits. */
  private val UniMaxPiece = 4

  /** Unigram-LM subword segmentation — the SentencePiece (Kudo 2018)
    * tokenizer family, next to the BPE lanes: score every substring piece
    * (length ≤ [[UniMaxPiece]]) by its frequency-weighted occurrence count
    * across the corpus vocabulary, then VITERBI-segment each word into the
    * piece sequence of minimal total cost (−ln p, quantized to an e6
    * integer the moment it's computed — from there the DP is pure integer
    * math). Cost ties break to fewer pieces: the DP minimizes the PAIR
    * (cost, n_pieces) lexicographically, which has optimal substructure,
    * so the reported pair is unique no matter how many optimal paths
    * exist. Emits per distinct word its corpus count, length, optimal
    * piece count, and the e6 cost.
    *
    * Scale: the word table and piece inventory are VOCABULARY-sized (the
    * BPE precedent) — one corpus pass for word counts, then every stage
    * is bounded by vocab × word length × [[UniMaxPiece]]; the piece-cost
    * table broadcasts as a map and the whole DP is one codegen'd
    * higher-order fold per distinct word, no joins inside the loop.
    *
    * The oracle cannot express the fold, so it enumerates every
    * segmentation as a recursive-CTE path walk (≤ tetranacci(len) ≈ 108
    * paths for len ≤ 8 — per-word-bounded, the oracle-only-quadratic
    * precedent of `geo_msf`) and takes the (cost, n_pieces) minimum —
    * the same unique pair the DP computes. */
  val unigramSegment: QueryDef = QueryDef(
    "llm_unigram_segment",
    s"""WITH RECURSIVE wt AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |occ AS (SELECT substr(w, s, l) AS u, wc
       |        FROM wt,
       |             unnest(range(1, len(w) + 1)) AS a(s),
       |             unnest(range(1, ${UniMaxPiece + 1})) AS b(l)
       |        WHERE s + l - 1 <= len(w)),
       |pc AS (SELECT u, sum(wc) AS c FROM occ GROUP BY 1),
       |tot AS (SELECT sum(c) AS t FROM pc),
       |vc AS (SELECT u, CAST(round(round(-ln(CAST(c AS DOUBLE) / tot.t), 6)
       |                            * 1000000) AS BIGINT) AS cost
       |       FROM pc, tot),
       |paths AS (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS np
       |  FROM wt
       |  UNION ALL
       |  SELECT p.w, p.pos + l, p.c + vc.cost, p.np + 1
       |  FROM paths p, unnest(range(1, ${UniMaxPiece + 1})) AS z(l), vc
       |  WHERE vc.u = substr(p.w, p.pos + 1, l) AND p.pos + l <= len(p.w)),
       |done AS (SELECT w, c, np FROM paths WHERE pos = len(w)),
       |best AS (SELECT w, c, np FROM (
       |           SELECT w, c, np,
       |                  row_number() OVER (PARTITION BY w ORDER BY c, np) AS rk
       |           FROM done) WHERE rk = 1)
       |SELECT b.w, wt.wc, CAST(len(b.w) AS BIGINT) AS n_chars,
       |       CAST(b.np AS BIGINT) AS n_pieces, CAST(b.c AS BIGINT) AS cost_e6
       |FROM best b JOIN wt USING (w) ORDER BY w""".stripMargin,
  ) { (spark, dir) => unigramSegmentOf(Tables.documents(spark, dir)) }

  /** [[unigramSegment]] over any (doc_id, text) frame — fixture seam. */
  private[graft] def unigramSegmentOf(docs: DataFrame): DataFrame = {
    val wt = graft.Caches.persist(
      docs.select(explode(tokens).as("w")).filter(length($"w") > 0)
        .groupBy($"w").agg(count(lit(1)).as("wc")))
    val occ = wt.select($"wc", explode(flatten(transform(
        sequence(lit(1), length($"w")),
        s => transform(
          sequence(lit(1), least(lit(UniMaxPiece), length($"w") - s + 1)),
          l => $"w".substr(s, l))))).as("u"))
    val pc = occ.groupBy($"u").agg(sum($"wc").as("c"))
    val tot = pc.agg(sum($"c").as("t"))
    val costs = pc.crossJoin(broadcast(tot))
      .select($"u",
        round(round(-log($"c".cast("double") / $"t"), 6) * 1000000)
          .cast("long").as("cost"))
    val vmap = costs
      .agg(map_from_entries(collect_list(struct($"u", $"cost"))).as("vm"))
    // Viterbi as one fold: acc[k] = best (cost, pieces) pair for the
    // k−1-char prefix; each position folds its ≤UniMaxPiece last-piece
    // starts, keeping the lexicographic (cost, np) minimum
    val dp = aggregate(
      sequence(lit(1), length($"w")),
      array(struct(lit(0L).as("c"), lit(0L).as("np"))),
      (acc, i) => concat(acc, array(aggregate(
        sequence(greatest(lit(1), i - (UniMaxPiece - 1)), i),
        struct(lit(Long.MaxValue / 2).as("c"), lit(0L).as("np")),
        (b, s) => {
          val cc = element_at(acc, s).getField("c") +
            element_at($"vm", $"w".substr(s, i - s + lit(1)))
          val cn = element_at(acc, s).getField("np") + lit(1L)
          when(cc < b.getField("c") ||
              (cc === b.getField("c") && cn < b.getField("np")),
            struct(cc.as("c"), cn.as("np"))).otherwise(b)
        }))))
    wt.crossJoin(broadcast(vmap))
      .withColumn("best", element_at(dp, length($"w") + 1))
      .select($"w", $"wc", length($"w").cast("long").as("n_chars"),
        $"best.np".as("n_pieces"), $"best.c".as("cost_e6"))
      .orderBy($"w")
  }

  /** Longest piece the [[wordpiece]] vocabulary admits, and the corpus
    * count below which a multi-char piece is dropped from it. */
  private val WpMaxPiece = 6
  private val WpMinCount = 3

  /** WordPiece tokenization — the greedy LONGEST-MATCH-FIRST inference
    * rule of Wu et al. 2016 (BERT's tokenizer), the third tokenizer
    * family next to [[bpeEncode]] (merge replay) and [[unigramSegment]]
    * (min-cost Viterbi): per word, repeatedly emit the longest vocabulary
    * piece that prefixes the remainder, continuation pieces carrying the
    * `##` mark. The vocabulary is self-mined so the oracle replays it
    * exactly: every position-marked substring up to [[WpMaxPiece]] chars
    * with corpus count ≥ [[WpMinCount]], plus ALL single-char pieces —
    * which guarantees progress, so no UNK branch exists to diverge on.
    * Per distinct word: count, piece count, and the space-joined piece
    * string (a full-fidelity check — any greedy divergence changes it).
    *
    * Scale shape: vocab mining is one (piece)-keyed count over exploded
    * substrings of DISTINCT words (bounded by |words|·L·[[WpMaxPiece]]);
    * tokenization broadcasts the vocab as a map and runs per-word fold
    * arithmetic, map-only — the [[unigramSegment]] shape with a greedy
    * fold instead of a DP. The oracle factors greedy through a
    * NON-recursive per-(word, pos) max-length table, then walks it with
    * a recursive CTE (aggregates are barred from recursive parts). */
  val wordpiece: QueryDef = QueryDef(
    "llm_wordpiece",
    s"""WITH RECURSIVE wt AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |occ AS (SELECT CASE WHEN s = 1 THEN substr(w, s, l)
       |                    ELSE '##' || substr(w, s, l) END AS piece, l, wc
       |        FROM wt,
       |             unnest(range(1, len(w) + 1)) AS a(s),
       |             unnest(range(1, $WpMaxPiece + 1)) AS b(l)
       |        WHERE s + l - 1 <= len(w)),
       |pc AS (SELECT piece, sum(wc) AS c, min(l) AS ml FROM occ GROUP BY 1),
       |voc AS (SELECT piece FROM pc WHERE c >= $WpMinCount OR ml = 1),
       |cand AS (SELECT wt.w, s - 1 AS pos, l
       |         FROM wt,
       |              unnest(range(1, len(w) + 1)) AS a(s),
       |              unnest(range(1, $WpMaxPiece + 1)) AS b(l)
       |         WHERE s + l - 1 <= len(w)
       |           AND (CASE WHEN s = 1 THEN substr(w, s, l)
       |                     ELSE '##' || substr(w, s, l) END)
       |               IN (SELECT piece FROM voc)),
       |g AS (SELECT w, pos, max(l) AS step FROM cand GROUP BY 1, 2),
       |walk AS (
       |  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS np, '' AS ps
       |  FROM wt
       |  UNION ALL
       |  SELECT k.w, k.pos + g.step, k.np + 1,
       |         k.ps || (CASE WHEN k.np = 0 THEN '' ELSE ' ' END) ||
       |         (CASE WHEN k.pos = 0 THEN substr(k.w, 1, CAST(g.step AS INT))
       |               ELSE '##' || substr(k.w, CAST(k.pos + 1 AS INT), CAST(g.step AS INT)) END)
       |  FROM walk k JOIN g ON g.w = k.w AND g.pos = k.pos
       |  WHERE k.pos < len(k.w))
       |SELECT w, wt.wc, CAST(k.np AS BIGINT) AS n_pieces, k.ps AS pieces
       |FROM walk k JOIN wt USING (w) WHERE k.pos = len(w)
       |ORDER BY w""".stripMargin,
  ) { (spark, dir) => wordpieceOf(Tables.documents(spark, dir)) }

  /** [[wordpiece]] over any (doc_id, text) frame — fixture seam. */
  private[graft] def wordpieceOf(docs: DataFrame): DataFrame = {
    // evaluate-once let-binding (the MultimodalOps.bindOnce technique):
    // the greedy step length feeds three fields of the fold state
    def once(v: Column)(f: Column => Column): Column =
      element_at(transform(array(v), f), 1)
    val wt = graft.Caches.persist(
      docs.select(explode(tokens).as("w")).filter(length($"w") > 0)
        .groupBy($"w").agg(count(lit(1)).as("wc")))
    val occ = wt.select($"wc", explode(flatten(transform(
        sequence(lit(1), length($"w")),
        s => transform(
          sequence(lit(1), least(lit(WpMaxPiece), length($"w") - s + 1)),
          l => struct(
            when(s === 1, $"w".substr(s, l))
              .otherwise(concat(lit("##"), $"w".substr(s, l))).as("piece"),
            l.cast("long").as("l")))))).as("o"))
      .select($"o.piece".as("piece"), $"o.l".as("l"), $"wc")
    val voc = occ.groupBy($"piece")
      .agg(sum($"wc").as("c"), min($"l").as("ml"))
      .filter($"c" >= WpMinCount || $"ml" === 1)
    val vmap = voc
      .agg(map_from_entries(collect_list(struct($"piece", lit(1)))).as("vm"))
    def pieceAt(pos: Column, l: Column): Column =
      when(pos === 0L, $"w".substr(lit(1), l.cast("int")))
        .otherwise(concat(lit("##"),
          $"w".substr((pos + 1L).cast("int"), l.cast("int"))))
    val dp = aggregate(
      sequence(lit(1L), length($"w").cast("long")),
      struct(lit(0L).as("pos"), lit(0L).as("np"), lit("").as("ps")),
      (acc, i) => {
        val pos = acc.getField("pos")
        // the fold visits every char index; only the index at the current
        // piece boundary acts, so each greedy step runs exactly once
        when(i =!= pos + 1L, acc).otherwise(
          once(aggregate(
            sequence(least(lit(WpMaxPiece.toLong),
              length($"w").cast("long") - pos), lit(1L), lit(-1L)),
            lit(0L),
            (b, l) => when(b > 0L, b).otherwise(
              when(element_at($"vm", pieceAt(pos, l)).isNotNull, l)
                .otherwise(lit(0L))))) { bl =>
            struct((pos + bl).as("pos"), (acc.getField("np") + 1L).as("np"),
              concat(acc.getField("ps"),
                when(acc.getField("np") === 0L, lit(""))
                  .otherwise(lit(" ")),
                pieceAt(pos, bl)).as("ps"))
          })
      })
    wt.crossJoin(broadcast(vmap))
      .withColumn("r", dp)
      .select($"w", $"wc", $"r.np".as("n_pieces"), $"r.ps".as("pieces"))
      .orderBy($"w")
  }

  /** Tokenizer ROUND-TRIP / AGREEMENT eval — the cross-family readout the
    * three tokenizer lanes ([[bpeEncode]] merge replay, [[unigramSegment]]
    * min-cost Viterbi, [[wordpiece]] greedy longest-match) individually
    * cannot produce: per distinct corpus word, the piece count under EACH
    * tokenizer, a `roundtrip_ok` flag proving both piece SEQUENCES
    * reconstruct the word exactly (BPE symbols concatenate back; WordPiece
    * pieces re-join with `##` marks stripped — the lossless-segmentation
    * invariant any deployed tokenizer must hold), and an `all_agree` flag
    * marking words where all three land the same granularity — the
    * fragmentation-comparison readout tokenizer papers tabulate.
    *
    * Scale shape: all three tokenizers are vocab-sized state broadcast
    * over per-word fold arithmetic (their own lanes' audited shape); the
    * agreement join is word-keyed over the DISTINCT-word table, orders of
    * magnitude below corpus size. Oracle: the three oracle chains
    * composed over ONE shared word table, joined on the word. */
  val tokAgreement: QueryDef = QueryDef(
    "llm_tok_agreement",
    (bpeCtes(BpeMerges) +
      s""",
         |wtok AS (SELECT w, CAST(len(string_split(trim(t, '#'), '##')) AS BIGINT) AS bnp,
         |                array_to_string(string_split(trim(t, '#'), '##'), '') AS bjoin
         |         FROM rr$BpeMerges),
         |uocc AS (SELECT substr(w, s, l) AS u, wc
         |         FROM w0,
         |              unnest(range(1, len(w) + 1)) AS a(s),
         |              unnest(range(1, ${UniMaxPiece + 1})) AS b(l)
         |         WHERE s + l - 1 <= len(w)),
         |upc AS (SELECT u, sum(wc) AS c FROM uocc GROUP BY 1),
         |utot AS (SELECT sum(c) AS t FROM upc),
         |uvc AS (SELECT u, CAST(round(round(-ln(CAST(c AS DOUBLE) / utot.t), 6)
         |                             * 1000000) AS BIGINT) AS cost
         |        FROM upc, utot),
         |upaths AS (
         |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS np
         |  FROM w0
         |  UNION ALL
         |  SELECT p.w, p.pos + l, p.c + uvc.cost, p.np + 1
         |  FROM upaths p, unnest(range(1, ${UniMaxPiece + 1})) AS z(l), uvc
         |  WHERE uvc.u = substr(p.w, p.pos + 1, l) AND p.pos + l <= len(p.w)),
         |udone AS (SELECT w, c, np FROM upaths WHERE pos = len(w)),
         |ubest AS (SELECT w, np AS unp FROM (
         |            SELECT w, c, np,
         |                   row_number() OVER (PARTITION BY w ORDER BY c, np) AS rk
         |            FROM udone) WHERE rk = 1),
         |wocc AS (SELECT CASE WHEN s = 1 THEN substr(w, s, l)
         |                     ELSE '##' || substr(w, s, l) END AS piece, l, wc
         |         FROM w0,
         |              unnest(range(1, len(w) + 1)) AS a(s),
         |              unnest(range(1, $WpMaxPiece + 1)) AS b(l)
         |         WHERE s + l - 1 <= len(w)),
         |wpc AS (SELECT piece, sum(wc) AS c, min(l) AS ml FROM wocc GROUP BY 1),
         |wvoc AS (SELECT piece FROM wpc WHERE c >= $WpMinCount OR ml = 1),
         |wcand AS (SELECT w0.w, s - 1 AS pos, l
         |          FROM w0,
         |               unnest(range(1, len(w) + 1)) AS a(s),
         |               unnest(range(1, $WpMaxPiece + 1)) AS b(l)
         |          WHERE s + l - 1 <= len(w)
         |            AND (CASE WHEN s = 1 THEN substr(w, s, l)
         |                      ELSE '##' || substr(w, s, l) END)
         |                IN (SELECT piece FROM wvoc)),
         |wg AS (SELECT w, pos, max(l) AS step FROM wcand GROUP BY 1, 2),
         |wwalk AS (
         |  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS np, '' AS ps
         |  FROM w0
         |  UNION ALL
         |  SELECT k.w, k.pos + wg.step, k.np + 1,
         |         k.ps || (CASE WHEN k.np = 0 THEN '' ELSE ' ' END) ||
         |         (CASE WHEN k.pos = 0 THEN substr(k.w, 1, CAST(wg.step AS INT))
         |               ELSE '##' || substr(k.w, CAST(k.pos + 1 AS INT), CAST(wg.step AS INT)) END)
         |  FROM wwalk k JOIN wg ON wg.w = k.w AND wg.pos = k.pos
         |  WHERE k.pos < len(k.w)),
         |wdone AS (SELECT w, np AS wnp, ps FROM wwalk WHERE pos = len(w))
         |SELECT w0.w, w0.wc, CAST(len(w0.w) AS BIGINT) AS n_chars,
         |       wtok.bnp AS bpe_np, ubest.unp AS uni_np, wdone.wnp AS wp_np,
         |       CAST(CASE WHEN wtok.bjoin = w0.w
         |                  AND replace(wdone.ps, ' ##', '') = w0.w
         |                 THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok,
         |       CAST(CASE WHEN wtok.bnp = ubest.unp AND ubest.unp = wdone.wnp
         |                 THEN 1 ELSE 0 END AS BIGINT) AS all_agree
         |FROM w0 JOIN wtok USING (w) JOIN ubest USING (w) JOIN wdone USING (w)
         |ORDER BY w""".stripMargin)
      .replaceFirst("^WITH ", "WITH RECURSIVE "),
  ) { (spark, dir) => tokAgreementOf(Tables.documents(spark, dir)) }

  /** [[tokAgreement]] over any (doc_id, text) frame — fixture seam. The
    * corpus frame is deliberately NOT persisted (corpus-sized caches are
    * the anti-pattern the memo rule bars): each tokenizer's word-table
    * mining is its own pruned text-column scan, and everything after is
    * vocab-sized. */
  private[graft] def tokAgreementOf(docs: DataFrame): DataFrame = {
    val wp = wordpieceOf(docs)
      .select($"w", $"wc", $"n_pieces".as("wp_np"), $"pieces")
    val uni = unigramSegmentOf(docs).select($"w", $"n_pieces".as("uni_np"))
    val bpe = bpeLoop(docs, BpeMerges)._2
      .select($"w", size($"syms").cast("long").as("bpe_np"),
        array_join($"syms", "").as("bjoin"))
    wp.join(uni, "w").join(bpe, "w")
      .select($"w", $"wc", length($"w").cast("long").as("n_chars"),
        $"bpe_np", $"uni_np", $"wp_np",
        when(regexp_replace($"pieces", " ##", "") === $"w" &&
          $"bjoin" === $"w", 1L).otherwise(0L).as("roundtrip_ok"),
        when($"bpe_np" === $"uni_np" && $"uni_np" === $"wp_np", 1L)
          .otherwise(0L).as("all_agree"))
      .orderBy($"w")
  }

  /** Dictionary size for [[keywordTag]]. */
  private val TagDictK = 12

  /** Multi-phrase dictionary tagging — the FlashText/Aho-Corasick shape:
    * match EVERY phrase of a dictionary against every document in one
    * corpus pass and emit per-(doc, phrase) hit counts. [[phraseSearch]]
    * locates ONE phrase; curation pipelines tag against whole keyword
    * lists (topic lexicons, blocklists), which is this operator. The
    * dictionary here is self-mined — the [[TagDictK]] most frequent word
    * bigrams (ties by text) — so the oracle replays it exactly; a real
    * deployment would load a curated list, identical plan.
    *
    * Scale shape: the corpus bigram stream is materialized once and feeds
    * both the dictionary mine and the tagging join; dictionaries are
    * tiny next to a 100 TB corpus, so the tag join BROADCASTS the
    * dictionary and the only shuffle is the (doc, phrase)-keyed count
    * with map-side partials. Multi-word patterns generalize by emitting
    * length-k shingles per dictionary length — same equi-join. */
  val keywordTag: QueryDef = QueryDef(
    "llm_keyword_tag",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |bg AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS phrase
       |       FROM t, unnest(range(1, len(ts))) AS u(i)
       |       WHERE len(ts) >= 2),
       |dict AS (SELECT phrase FROM bg GROUP BY 1
       |         ORDER BY count(*) DESC, phrase LIMIT $TagDictK)
       |SELECT b.doc_id, b.phrase, CAST(count(*) AS BIGINT) AS n_hits
       |FROM bg b JOIN dict USING (phrase)
       |GROUP BY 1, 2 ORDER BY doc_id, phrase""".stripMargin,
  ) { (spark, dir) => keywordTagOf(Tables.documents(spark, dir)) }

  /** [[keywordTag]] over any (doc_id, text) frame — fixture seam. */
  private[graft] def keywordTagOf(docs: DataFrame): DataFrame = {
    val bg = graft.Caches.persist(
      docs.select($"doc_id", split($"text", " ").as("ts"))
        .filter(size($"ts") >= 2)
        .select($"doc_id", explode(transform(
          sequence(lit(1), size($"ts") - 1),
          i => concat_ws(" ", element_at($"ts", i), element_at($"ts", i + 1))))
          .as("phrase")))
    val dict = bg.groupBy($"phrase").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"phrase").limit(TagDictK)
      .select($"phrase")
    bg.join(broadcast(dict), "phrase")
      .groupBy($"doc_id", $"phrase").agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id", $"phrase")
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are the
    * maximal stopword-free token runs (islands via the pos − row_number
    * trick, capped at 4 tokens — the classic RAKE cap); each word scores
    * deg/freq where deg sums the lengths of the phrases it appears in, and
    * a phrase scores the sum of its members' scores. Both ratios stay
    * integer ppm (deg·10⁶ DIV freq), and identical phrase TEXT implies an
    * identical member multiset, so per-occurrence sums collapse by `max`
    * without a float ever crossing engines.
    *
    * Scale shape: tokenize explode → one per-doc window sort (shared with
    * every lexical op), phrase assembly is a (doc, island) aggregate, word
    * stats are vocab-sized and re-enter by broadcast; top-10 is a
    * TakeOrdered. */
  val rakeKeywords: QueryDef = QueryDef(
    "llm_rake_keywords",
    """WITH toks AS (
      |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |ns AS (SELECT doc_id, w, i,
      |              i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
      |       FROM toks WHERE w NOT IN ('a', 'the')),
      |ph AS (SELECT doc_id, island, string_agg(w, ' ' ORDER BY i) AS phrase,
      |              CAST(count(*) AS BIGINT) AS plen
      |       FROM ns GROUP BY 1, 2 HAVING count(*) <= 4),
      |member AS (SELECT ns.doc_id, ns.island, ns.w, ph.plen
      |           FROM ns JOIN ph ON ns.doc_id = ph.doc_id AND ns.island = ph.island),
      |ws AS (SELECT w, CAST(sum(plen) AS BIGINT) AS deg, CAST(count(*) AS BIGINT) AS freq
      |       FROM member GROUP BY 1),
      |occ AS (SELECT m.doc_id, m.island,
      |               CAST(sum(ws.deg * 1000000 // ws.freq) AS BIGINT) AS psum
      |        FROM member m JOIN ws ON m.w = ws.w GROUP BY 1, 2),
      |agg AS (SELECT ph.phrase AS phrase, CAST(count(*) AS BIGINT) AS n_occ,
      |               CAST(max(occ.psum) AS BIGINT) AS score_ppm
      |        FROM ph JOIN occ ON ph.doc_id = occ.doc_id AND ph.island = occ.island
      |        GROUP BY 1)
      |SELECT phrase, n_occ, score_ppm
      |FROM agg ORDER BY score_ppm DESC, phrase LIMIT 10""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(tokens).as(Seq("i", "w")))
    val ns = toks.filter(!$"w".isin("a", "the"))
      .select($"doc_id", $"w", $"i",
        ($"i" - row_number().over(
          Window.partitionBy($"doc_id").orderBy($"i"))).as("island"))
    val ph = ns.groupBy($"doc_id", $"island")
      .agg(array_join(transform(
          array_sort(collect_list(struct($"i", $"w"))), x => x.getField("w")), " ")
          .as("phrase"),
        count(lit(1)).as("plen"))
      .filter($"plen" <= 4)
    val member = ns.join(ph.select($"doc_id", $"island", $"plen"),
      Seq("doc_id", "island"))
    val wstats = member.groupBy($"w")
      .agg(sum($"plen").as("deg"), count(lit(1)).as("freq"))
    val occ = member.join(broadcast(wstats), "w")
      .groupBy($"doc_id", $"island")
      .agg(sum(expr("deg * 1000000 DIV freq")).as("psum"))
    ph.join(occ, Seq("doc_id", "island"))
      .groupBy($"phrase")
      .agg(count(lit(1)).as("n_occ"), max($"psum").as("score_ppm"))
      .orderBy($"score_ppm".desc, $"phrase").limit(10)
  }

  /** GREEDY DECODING from the corpus bigram LM: start at the most frequent
    * word, repeatedly take the argmax next word (count desc, word asc —
    * both exact integers, so the decoded sequence is hash-verifiable; the
    * DuckDB oracle unrolls the 8 steps). The deterministic text-generation
    * twin of `graph_random_walks`' hash-driven sampling: same
    * frontier-step shape, argmax transition instead of a hash draw — and
    * the standard sanity probe of an n-gram LM ("what does it say?").
    * A cycle in the argmax graph just repeats — expected, deterministic.
    *
    * Scale shape: the bigram table is vocab²-bounded state; each step
    * joins the 1-row frontier against it by broadcast and takes a
    * TakeOrdered(1) — never touches the corpus after the count pass. */
  val lmGreedyGen: QueryDef = {
    val Steps = 8
    val head =
      """WITH toks AS (
        |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |bg AS (SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM toks),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
        |       FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |g0 AS (SELECT w AS cur FROM uc ORDER BY c DESC, w LIMIT 1)""".stripMargin
    val steps = (1 to Steps).map { k =>
      s""",
         |g$k AS (SELECT bc.w2 AS cur FROM bc, g${k - 1}
         |        WHERE bc.w1 = g${k - 1}.cur ORDER BY bc.n DESC, bc.w2 LIMIT 1)""".stripMargin
    }.mkString
    val tail = "\nSELECT 0 AS step, cur AS word FROM g0" +
      (1 to Steps).map(k => s"\nUNION ALL SELECT $k, cur FROM g$k").mkString +
      "\nORDER BY step"
    QueryDef("llm_lm_greedy_gen", head + steps + tail) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(spark, dir)
        .select($"doc_id", posexplode(tokens).as(Seq("i", "w")))
      val bc = graft.Caches.localCheckpoint(toks
        .select($"w".as("w1"),
          lead($"w", 1).over(Window.partitionBy($"doc_id").orderBy($"i")).as("w2"))
        .filter($"w2".isNotNull)
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("n")))
      var cur = graft.Caches.localCheckpoint(
        toks.groupBy($"w").agg(count(lit(1)).as("c"))
          .orderBy($"c".desc, $"w").limit(1).select($"w".as("cur")))
      var out = cur.select(lit(0).as("step"), $"cur".as("word"))
      for (k <- 1 to Steps) {
        cur = graft.Caches.localCheckpoint(
          bc.join(broadcast(cur), $"w1" === $"cur")
            .orderBy($"n".desc, $"w2").limit(1).select($"w2".as("cur")))
        out = out.unionAll(cur.select(lit(k).as("step"), $"cur".as("word")))
      }
      out.orderBy($"step")
    }
  }

  // ------------------------------------------------------ span corruption

  /** Span-start rate: 1-in-20 token positions (≈5%), each opening a
    * 3-token span → ≈15% of tokens masked, the T5 default corruption
    * budget. */
  private val SpanDenom = 20
  private val SpanLen = 3

  /** T5-style SPAN CORRUPTION (Raffel et al. 2020 §3.1.4) — the
    * denoising-objective data generator: deterministic hash-chosen span
    * starts (1 in [[SpanDenom]] positions), each masking [[SpanLen]]
    * tokens; overlapping spans merge into one run; each run is replaced
    * by a numbered sentinel in the INPUT and contributes
    * `sentinel + original tokens` to the TARGET. Seedless: the span draw
    * is the portable hash of (doc_id, position), so the corpus regenerates
    * bit-identically anywhere — the repo's sampling convention
    * (`llm_sample_hash`) applied to objective construction.
    *
    * Scale shape: map-ONLY — every derivation is per-row array algebra
    * (no shuffle at any SF); the run-id prefix count inside the lambda is
    * O(len²) per doc, fine at doc scale (the linear alternative is a
    * higher-order `aggregate` running sum — swap in if docs grow to
    * book length).
    *
    * Determinism: hash draw + pure array functions; both engines build
    * the same arrays and join them with single spaces. */
  val spanCorruption: QueryDef = QueryDef(
    "llm_span_corruption",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |b AS (SELECT doc_id, ts, len(ts) AS n,
       |             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)), 1, 15))::BIGINT % $SpanDenom = 0
       |              for p in range(0, len(ts))] AS sb
       |      FROM t),
       |m AS (SELECT doc_id, ts, n,
       |             -- p >= k guards: a DuckDB negative index wraps from the END
       |             [sb[p + 1] OR (p >= 1 AND coalesce(sb[p], false))
       |                        OR (p >= 2 AND coalesce(sb[p - 1], false))
       |              for p in range(0, n)] AS mk
       |      FROM b),
       |r AS (SELECT doc_id, ts, n, mk,
       |             [mk[p + 1] AND NOT (p >= 1 AND coalesce(mk[p], false))
       |              for p in range(0, n)] AS rs
       |      FROM m),
       |s AS (SELECT doc_id, ts, n, mk, rs,
       |             [len(list_filter(rs[1:p + 1], x -> x))
       |              for p in range(0, n)] AS sid
       |      FROM r)
       |SELECT doc_id,
       |       CAST(n AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(mk, x -> x)) AS BIGINT) AS n_masked,
       |       CAST(coalesce(sid[n], 0) AS BIGINT) AS n_spans,
       |       -- coalesce: DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''
       |       coalesce(array_to_string(list_filter(
       |         [CASE WHEN NOT mk[p + 1] THEN ts[p + 1]
       |               WHEN rs[p + 1] THEN '<extra_id_' || CAST(sid[p + 1] AS VARCHAR) || '>'
       |               ELSE NULL END for p in range(0, n)],
       |         x -> x IS NOT NULL), ' '), '') AS input_text,
       |       coalesce(array_to_string(list_filter(
       |         [CASE WHEN rs[p + 1] THEN '<extra_id_' || CAST(sid[p + 1] AS VARCHAR) || '> ' || ts[p + 1]
       |               WHEN mk[p + 1] THEN ts[p + 1]
       |               ELSE NULL END for p in range(0, n)],
       |         x -> x IS NOT NULL), ' '), '') AS target_text
       |FROM s ORDER BY doc_id""".stripMargin,
  ) { (spark, dir) => spanCorruptionOf(Tables.documents(spark, dir)) }

  private[graft] def spanCorruptionOf(documents: DataFrame): DataFrame =
    documents
      .select($"doc_id", tokens.as("ts"))
      .withColumn("n", size($"ts"))
      // span-start draws per position (0-based)
      .withColumn("sb", expr(
        s"""transform(sequence(0, n - 1), p ->
           |  md5hash60(concat(cast(doc_id AS string), ':', cast(p AS string))) % $SpanDenom = 0)""".stripMargin))
      // masked = a start opened within the last SpanLen positions
      .withColumn("mk", expr(
        """transform(sequence(0, n - 1), p ->
          |  element_at(sb, p + 1)
          |  OR (CASE WHEN p >= 1 THEN element_at(sb, p) ELSE false END)
          |  OR (CASE WHEN p >= 2 THEN element_at(sb, p - 1) ELSE false END))""".stripMargin))
      // run starts and 1-based run ids (prefix count of run starts)
      .withColumn("rs", expr(
        """transform(sequence(0, n - 1), p ->
          |  element_at(mk, p + 1)
          |  AND NOT (CASE WHEN p >= 1 THEN element_at(mk, p) ELSE false END))""".stripMargin))
      .withColumn("sid", expr(
        """transform(sequence(0, n - 1), p ->
          |  size(filter(slice(rs, 1, p + 1), x -> x)))""".stripMargin))
      .select($"doc_id",
        $"n".cast("long").as("n_tokens"),
        expr("cast(size(filter(mk, x -> x)) AS bigint)").as("n_masked"),
        expr("cast(coalesce(element_at(sid, n), 0) AS bigint)").as("n_spans"),
        expr(
          """array_join(filter(transform(sequence(0, n - 1), p ->
            |  CASE WHEN NOT element_at(mk, p + 1) THEN element_at(ts, p + 1)
            |       WHEN element_at(rs, p + 1)
            |         THEN concat('<extra_id_', cast(element_at(sid, p + 1) AS string), '>')
            |       ELSE NULL END), x -> x IS NOT NULL), ' ')""".stripMargin)
          .as("input_text"),
        expr(
          """array_join(filter(transform(sequence(0, n - 1), p ->
            |  CASE WHEN element_at(rs, p + 1)
            |         THEN concat('<extra_id_', cast(element_at(sid, p + 1) AS string), '> ',
            |                     element_at(ts, p + 1))
            |       WHEN element_at(mk, p + 1) THEN element_at(ts, p + 1)
            |       ELSE NULL END), x -> x IS NOT NULL), ' ')""".stripMargin)
          .as("target_text"))
      .orderBy($"doc_id")

  /** Prefix-cache REUSE readout — how much of the corpus shares an exact
    * leading-token prefix (the unit an inference prefix cache or a
    * training pack-with-shared-prefix step exploits): group docs by their
    * first-8-token prefix and histogram the group sizes, with the token
    * count a shared-prefix cache would save (`(n_docs − 1) · prefix_len`
    * per group). One narrow-key shuffle; the histogram is bounded by the
    * max group size at any SF. */
  val prefixReuse: QueryDef = QueryDef(
    "llm_prefix_reuse",
    """WITH p AS (SELECT array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS pref,
      |                  least(len(string_split(text, ' ')), 8) AS plen
      |           FROM documents),
      |g AS (SELECT pref, CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(max(plen) AS BIGINT) AS plen
      |      FROM p GROUP BY pref)
      |SELECT n_docs AS reuse_count,
      |       CAST(count(*) AS BIGINT) AS n_prefixes,
      |       CAST(sum((n_docs - 1) * plen) AS BIGINT) AS tokens_saved
      |FROM g GROUP BY n_docs ORDER BY reuse_count""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(array_join(slice(tokens, 1, 8), " ").as("pref"),
        least(size(tokens), lit(8)).as("plen"))
      .groupBy($"pref")
      .agg(count(lit(1)).as("n_docs"), max($"plen").cast("long").as("plen"))
      .groupBy($"n_docs".as("reuse_count"))
      .agg(count(lit(1)).as("n_prefixes"),
        sum(($"n_docs" - 1) * $"plen").as("tokens_saved"))
      .orderBy($"reuse_count")
  }

  val all: Seq[QueryDef] = Seq(
    exactDedup, normDedup, fingerprint, winnow, winnowPairs, winnowNative,
    textStats,
    tokenCount, quality, langId, langIdEval, vocabTopK, idf, pmiColloc, repetition,
    entropy, neardupJaccard, containment, neardupPairStats,
    containmentPairStats, minhashSig, minhashLsh, minhashSweep,
    simhash, simhashPairs,
    dedupCluster, dedupClusterLs, dedupKeepBest, dedupConsensus, incrementalDedup,
    dupChunks, cdcChunks, dupSpans, despanApply, suffixRepeats, chunkSplit, bpePairs, bpeTrain, bpeEncode, bpeEval,
    unigramSegment, wordpiece, tokAgreement,
    filterCascade, filterCascadeNative, corpusPipeline, datasetCard,
    phraseSearch, keywordTag, rakeKeywords, lmGreedyGen,
    spanCorruption, prefixReuse,
  )

}
