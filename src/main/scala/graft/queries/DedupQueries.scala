package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import QueryDef.q

/** Near-duplicate detection for a training-data pipeline: exact hashing is
  * in RelationalQueries (q_dedup_exact/keep_first); here are the fuzzy
  * families — n-gram Jaccard, MinHash+LSH banding, SimHash, and
  * embedding-cosine near-dup.
  *
  * The corpus is `documents` UNION a deterministically mutated copy
  * (doc_id+1000000, every 7th token dropped) so every document has exactly
  * one planted near-duplicate — the queries must find those pairs and
  * reject the random ones.
  *
  * Scale design: everything is blocked — shingle-join (inverted index) for
  * Jaccard, band-bucket joins for MinHash/SimHash, label partitions for
  * embeddings — never an unblocked O(n²) pair scan.
  */
object DedupQueries {

  // LSH geometry for q_dedup_embed — declared BEFORE `defs` (object-init
  // order: `defs` forces dedupEmbedSql, which reads these).
  private val embedBands = 16
  private val embedPlanesPerBand = 8

  /** Per-bucket size cap for the banded/posting-list dedup lanes
    * (q_dedup_substring's fingerprint buckets, the phash lanes' band
    * buckets): a bucket keeps only its `bandBucketCap` LOWEST doc_ids
    * (deterministic, replayed verbatim in the oracles as a
    * row_number-over-bucket filter), so one degenerate key — a
    * boilerplate span, a flat-image all-zeros band — bounds BOTH the
    * per-bucket pair cost (≤ cap²/2 instead of O(bucket²)) and the
    * widest row any executor materializes. 64 is ~2.5× the largest
    * bucket any fixture SF produces (measured: 24 at sf0.1 for the
    * image bands, 8 for substring fingerprints), so at fixture scale
    * the cap provably never drops a pair; at 100 TB it is the
    * stop-list device that keeps a pathological key from an
    * executor-memory cliff. */
  private[graft] val bandBucketCap = 64

  // --- corpus + shingles, Spark side ------------------------------------

  /** documents ∪ mutated copy (drop tokens at 0-based positions ≡ 0 mod 7). */
  private[graft] def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents.select(col("doc_id"), col("lang"), col("text"))
    d.unionByName(
      d.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        col("lang"),
        concat_ws(" ", filter(split(col("text"), " "), (_, i) => i % 7 =!= 0)).as("text")
      )
    )
  }

  /** Distinct word-3-gram array over the token column `l`. Docs with <3
    * tokens yield an empty array — unguarded `sequence(1, size-2)` would
    * turn DESCENDING for them ([1,0]) and `element_at(l, 0)` throws under
    * Spark 4 ANSI mode, where DuckDB's generate_series(1,0) is just empty. */
  private def shingleArray: Column =
    array_distinct(
      transform(
        when(size(col("l")) >= 3, sequence(lit(1), size(col("l")) - 2))
          .otherwise(array().cast("array<int>")),
        i => concat_ws("_", element_at(col("l"), i), element_at(col("l"), i + 1), element_at(col("l"), i + 2))
      )
    )

  /** (doc_id, lang, sarr): per-doc distinct shingle array. */
  private[graft] def shingleArrays(df: DataFrame): DataFrame =
    df.withColumn("l", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), shingleArray.as("sarr"))

  /** Exact-Jaccard verify over candidate (doc_a, doc_b) pairs via
    * array_intersect on per-doc shingle arrays — candidates are few after
    * LSH blocking, so two array joins beat re-shuffling the whole exploded
    * shingle index. (For UNfiltered any-shared-shingle candidate sets this
    * shape shipped two full shingle arrays per pair and measured 3×
    * slower — the ngram query verifies from index-join intersection counts
    * instead.) */
  private[queries] def jaccardVerify(sarr: DataFrame, cands: DataFrame, threshold: Double): DataFrame =
    jaccardVerifyAcross(
      sarr.select(col("doc_id").as("doc_a"), col("sarr").as("sa")),
      sarr.select(col("doc_id").as("doc_b"), col("sarr").as("sb")),
      cands, threshold)

  /** The same verify with SEPARATE shingle sources per side — the shape
    * the streaming incremental lane needs (batch shingles on doc_a,
    * stored corpus shingles on doc_b). One implementation so the Jaccard
    * formula, rounding, and threshold semantics can never diverge
    * between the batch and streaming lanes. Expects (doc_a, sa) and
    * (doc_b, sb) frames. */
  private[graft] def jaccardVerifyAcross(sa: DataFrame, sb: DataFrame,
      cands: DataFrame, threshold: Double): DataFrame =
    cands
      .join(sa, "doc_a")
      .join(sb, "doc_b")
      // spread the exact-Jaccard verify by the full pair key before the
      // per-pair array_intersect (guide §2.5): capped buckets keep the
      // LOWEST ids, so doc_a is hot on low ids and the broadcast-cands
      // plan serializes the verify into the few stream partitions owning
      // them (the q_dedup_edit_verify skew, measured there at ~1.1x
      // wall-to-cpu). Explicit count — AQE sizes by bytes and would
      // coalesce the KB-sized pair shuffle back to one partition.
      .repartition(cands.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), CrossRound.col(col("jac"), 4).as("jac"))

  /** Exact n-gram Jaccard pairs (doc_a, doc_b, jac ≥ 0.3) off a cached
    * shingle-array frame — the q_dedup_ngram_jaccard body, shared with the
    * MinHash recall harness as its ground truth. Shingle buckets ride
    * [[cappedBucketPairs]]: a corpus-wide boilerplate shingle costs at
    * most cap²/2 pairs and is never materialized as one row (the oracle
    * replays the same df cap). A doc cut from a capped bucket loses that
    * shingle from its intersection count — the standard stop-shingle
    * under-count, deterministic on both engines. */
  private[graft] def ngramJaccardFrom(sa: DataFrame): DataFrame = {
    val counts = sa.select(col("doc_id"), size(col("sarr")).as("n"))
    val sh = sa.select(col("doc_id"), col("lang"), explode(col("sarr")).as("s"))
    cappedBucketPairs(sh, Seq("lang", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.3)
  }

  /** MinHash-LSH candidate pairs (doc_a < doc_b, distinct) off a cached
    * shingle-array frame — the q_dedup_minhash blocking stage, shared with
    * the recall harness. 8 min-hashes in ONE fused MinHashSig pass over
    * the per-doc shingle array — no explode and no aggregation shuffle for
    * the signature (the round-1 shape grouped 8 min-aggregates over
    * exploded rows). */
  /** (doc_id, b, bv): 4 bands × 2 minhash rows per doc — the LSH blocking
    * key. Factored out of the full-corpus pairing so the incremental pass
    * can join NEW-batch bands against a stored index instead of
    * re-pairing everything. */
  private[graft] def minhashBands(sarr: DataFrame): DataFrame = {
    val minh = sarr
      .select(
        col("doc_id"),
        // fence: `hs` is referenced 9× downstream (8 band element_ats +
        // the null filter); unfenced, CollapseProject re-inlines the
        // whole signature loop into every reference (measured 8×)
        graft.plans.OptimizerBarrier.once(
          graft.functions.TextHashExpressions.minHash(col("sarr"), 8)).as("hs")
      )
      .filter(col("hs").isNotNull) // zero-shingle docs had no aggregate row
    minh.select(
      col("doc_id"),
      explode(array((0 to 3).map(b =>
        struct(
          lit(b).as("b"),
          md5(concat(element_at(col("hs"), 2 * b + 1), element_at(col("hs"), 2 * b + 2))).as("bv")
        )): _*)).as("band")
    ).select(col("doc_id"), col("band.b").as("b"), col("band.bv").as("bv"))
  }

  private[graft] def minhashCandsFrom(sarr: DataFrame): DataFrame =
    // capped band buckets (pairs colliding in several bands dedup in the
    // distinct): a degenerate band value — every doc sharing one bucket —
    // costs ≤ cap²/2 pairs instead of C(bucket,2)
    cappedBucketPairs(minhashBands(sarr), Seq("b", "bv")).distinct()

  // --- shared SQL fragments ---------------------------------------------

  private val corpusSql =
    """corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang,
      |    array_to_string(list_filter(string_split(text, ' '), (x, i) -> i % 7 != 1), ' ')
      |  FROM documents)""".stripMargin

  private val shinglesSql =
    """sh AS (
      |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
      |    generate_series(1, len(l) - 2), i -> l[i] || '_' || l[i+1] || '_' || l[i+2]))) AS s
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS l FROM corpus)),
      |sc AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** Capped shingle index — [[cappedBucketPairs]]' row_number-over-bucket
    * keep-lowest rule replayed in SQL for the ngram lanes' (lang, shingle)
    * buckets. Shared by the ngram oracle and the recall harness's ground
    * truth so the cap can never drift between them. */
  private val shCapSql =
    s"""shcap AS (SELECT doc_id, lang, s FROM (
       |  SELECT doc_id, lang, s,
       |    row_number() OVER (PARTITION BY lang, s ORDER BY doc_id) AS rn
       |  FROM sh) WHERE rn <= $bandBucketCap)""".stripMargin

  /** MinHash signature + band CTEs (`minh`, `bands`) — shared verbatim by
    * every minhash oracle (the four self-pair lanes plus both incremental
    * variants) so the banding math cannot drift between them. Expects an
    * `sh(doc_id, …, s)` shingle CTE in scope. */
  private[queries] val minhashBandsCtes =
    """minh AS (
      |  SELECT doc_id, j, min(md5(j || '#' || s)) AS h
      |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g
      |  GROUP BY doc_id, j),
      |bands AS (
      |  SELECT doc_id, j // 2 AS b,
      |    md5(max(CASE WHEN j % 2 = 0 THEN h END) || max(CASE WHEN j % 2 = 1 THEN h END)) AS bv
      |  FROM minh GROUP BY doc_id, j // 2)""".stripMargin

  /** [[minhashBandsCtes]] + the capped self-pair candidate CTEs (`bandcap`,
    * `cands`) — the full MinHash-LSH blocking stage, cap replayed exactly
    * as [[cappedBucketPairs]] applies it. Shared by q_dedup_minhash /
    * q_dedup_edit_verify / the recall harness / q_corpus_pipeline. */
  private[queries] val minhashCandsCtes =
    s"""$minhashBandsCtes,
       |bandcap AS (SELECT doc_id, b, bv FROM (
       |  SELECT doc_id, b, bv,
       |    row_number() OVER (PARTITION BY b, bv ORDER BY doc_id) AS rn
       |  FROM bands) WHERE rn <= $bandBucketCap),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandcap a JOIN bandcap b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)""".stripMargin

  // floor-first rounding: Jaccard is intersection/union, an integer
  // ratio — the exact-decimal-half class where engine round() diverges
  // (11/32 = 0.34375 rounds differently in Spark and DuckDB)
  private def jaccardSql(pairsCte: String, threshold: Double) =
    s"""SELECT doc_a, doc_b, ${CrossRound.sql("jac", 4)} AS jac FROM (
       |  SELECT p.doc_a, p.doc_b, p.inter::DOUBLE / (x.n + y.n - p.inter) AS jac
       |  FROM $pairsCte p
       |  JOIN sc x ON p.doc_a = x.doc_id JOIN sc y ON p.doc_b = y.doc_id)
       |WHERE jac >= $threshold""".stripMargin

  // --- canonical-key (URL) dedup ------------------------------------------

  /** Synthetic raw-URL column over (doc_id, source) — the canonical-dedup
    * fixture: two crawl variants per (source, page = doc_id div 40) group
    * (members are doc_id and doc_id+20, since source = doc_id % 20), which
    * between them exercise every normalization rule the canonicalizer
    * owns: scheme strip, host case-fold, www-strip, trailing slash,
    * fragment drop, tracking-param removal, and query-param ORDER. The
    * oracle replays the construction digit-for-digit. */
  private def syntheticUrl: Column = {
    val page = expr("doc_id div 40").cast("string")
    when(expr("(doc_id div 20) % 2") === 0,
      concat(lit("https://www."), col("source"), lit(".example.com/p/"), page,
        lit("?id="), page, lit("&utm_source=rss")))
      .otherwise(
        concat(lit("HTTP://"), upper(col("source")), lit(".EXAMPLE.COM/p/"), page,
          lit("/?utm_campaign=x&id="), page, lit("#frag")))
  }

  /** C4-style URL canonicalization (Raffel et al. 2020's first dedup
    * stage): strip scheme, drop fragment, lower-case the HOST only (paths
    * are case-sensitive), strip a leading `www.`, strip trailing slashes,
    * drop tracking query params (utm_*, fbclid), and SORT the surviving
    * params so crawl-order differences can't split a group. Pure column
    * ops — codegen-friendly, no UDF. */
  private[graft] def canonicalUrlKey(url: Column): Column = {
    val nf = regexp_replace(regexp_replace(url, "^[A-Za-z]+://", ""), "#.*$", "")
    val host = regexp_replace(lower(regexp_extract(nf, "^([^/?]*)", 1)), "^www\\.", "")
    val path = regexp_replace(regexp_extract(nf, "^[^/?]*([^?]*)", 1), "/+$", "")
    val query = regexp_extract(nf, "\\?(.*)$", 1)
    // prefix compare, not LIKE 'utm_%' — LIKE's `_` is a single-char
    // wildcard, which would also strip legitimate params like utmost=1
    // (round-15 review finding; the oracle uses the same substr compare)
    val kept = array_join(array_sort(filter(split(query, "&"),
      p => substring(p, 1, 4) =!= "utm_" && !p.like("fbclid=%") && (p =!= ""))), "&")
    concat(host, path, when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** Canonical-key dedup assignment over (doc_id, text, source): one row
    * per input doc — (doc_id, canon_key, kept_doc, keep) with keep-rule
    * "longest text, tie → lowest doc_id" (C4 keeps the best page per
    * canonical URL). One window over the key — a keyed, spillable shape:
    * no join, no pair emission, O(n log n) within each key partition, so
    * a hot canonical key (a crawl that hit one URL a million times)
    * costs one partition's sort, never a pair blowup. */
  private[graft] def canonicalAssign(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("canon_key"))
      .orderBy(length(col("text")).desc, col("doc_id").asc)
    docs.select(col("doc_id"), col("text"), syntheticUrl.as("url"))
      .withColumn("canon_key", canonicalUrlKey(col("url")))
      .select(col("doc_id"), col("canon_key"),
        first(col("doc_id")).over(w).as("kept_doc"),
        (row_number().over(w) === 1).as("keep"))
  }

  /** urls/canon/ranked CTEs for the canonical-dedup oracle, parameterized
    * by the doc relation (must expose doc_id, text, source) so
    * q_corpus_pipeline can replay the same stage over its own base. */
  private[queries] def canonicalCtes(rel: String): String =
    s"""urls AS (
       |  SELECT doc_id, text,
       |    CASE WHEN (doc_id // 20) % 2 = 0 THEN
       |      'https://www.' || source || '.example.com/p/' || (doc_id // 40) || '?id=' || (doc_id // 40) || '&utm_source=rss'
       |    ELSE
       |      'HTTP://' || upper(source) || '.EXAMPLE.COM/p/' || (doc_id // 40) || '/?utm_campaign=x&id=' || (doc_id // 40) || '#frag'
       |    END AS url
       |  FROM $rel),
       |canon AS (
       |  SELECT doc_id, text,
       |    host || path || CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canon_key
       |  FROM (
       |    SELECT doc_id, text, host, path,
       |      array_to_string(list_sort(list_filter(string_split(query, '&'),
       |        p -> substr(p, 1, 4) <> 'utm_' AND p NOT LIKE 'fbclid=%' AND p <> '')), '&') AS kept
       |    FROM (
       |      SELECT doc_id, text,
       |        regexp_replace(lower(regexp_extract(nf, '^([^/?]*)', 1)), '^www\\.', '') AS host,
       |        regexp_replace(regexp_extract(nf, '^[^/?]*([^?]*)', 1), '/+$$', '') AS path,
       |        regexp_extract(nf, '\\?(.*)$$', 1) AS query
       |      FROM (SELECT doc_id, text,
       |        regexp_replace(regexp_replace(url, '^[A-Za-z]+://', ''), '#.*$$', '') AS nf
       |        FROM urls)))),
       |uranked AS (
       |  SELECT doc_id, canon_key,
       |    first_value(doc_id) OVER w AS kept_doc,
       |    row_number() OVER w = 1 AS keep
       |  FROM canon
       |  WINDOW w AS (PARTITION BY canon_key ORDER BY length(text) DESC, doc_id))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ★ Canonical-key (URL) dedup — C4's stage-0 dedup family (Raffel et
    // al. 2020): group documents by their CANONICALIZED source URL and
    // keep the best page per group. The fixture manufactures two raw
    // crawl variants per (source, page) group — different scheme case,
    // host case, www prefix, trailing slash, fragment, tracking params,
    // and param order — and the canonicalizer must collapse them while
    // keeping singletons intact. Keep rule: longest text, tie → lowest
    // doc_id; output is the full keep/drop assignment with each doc's
    // group keeper (what a curation pipeline joins against).
    // Scale: key derivation is pure per-row column ops; the assignment
    // is ONE window over the canonical key — keyed, spillable, no pair
    // work at any group width (a million-hit URL costs one partition
    // sort). Composes as stage 0 of q_corpus_pipeline.
    q(
      "q_dedup_canonical",
      s"""WITH ${canonicalCtes("documents")}
         |SELECT doc_id, canon_key, kept_doc, keep FROM uranked""".stripMargin
    ) { (s, dir) =>
      canonicalAssign(
        Tables(s, dir).documents.select(col("doc_id"), col("text"), col("source")))
    },

    // Exact n-gram Jaccard via an inverted shingle index (blocked by lang):
    // pairs sharing a shingle → intersection counts → Jaccard ≥ 0.3.
    q(
      "q_dedup_ngram_jaccard",
      s"""WITH $corpusSql, $shinglesSql, $shCapSql,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM shcap a JOIN shcap b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |${jaccardSql("pairs", 0.3)}""".stripMargin
    ) { (s, dir) =>
      // the shingle computation feeds FOUR consumers (both self-join sides
      // + both count joins); materialize the per-doc shingle ARRAYS once
      // (one row per doc — far smaller than the exploded index) and derive
      // everything from the cache: counts become size(sarr) (no 20M-row
      // count shuffle), the index sides explode off the cached arrays
      // phase split (round-20 attribution sweep): the shingle cache fill
      // is declared work either way (four consumers read it), and the
      // pair join is the declared output — forced as an eager leaf so
      // the caller's action is a cache read, not an unattributed tail
      val sa = graft.Bench.phase("q_dedup_ngram_jaccard.shingle") {
        val f = shingleArrays(corpus(s, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        f.count()
        f
      }
      graft.plans.AuditFrames.forced("q_dedup_ngram_jaccard", "pairs") {
        ngramJaccardFrom(sa)
          .select(col("doc_a"), col("doc_b"), CrossRound.col(col("jac"), 4).as("jac"))
      }
    },

    // MinHash (8 string-min hashes over shingles) + LSH banding (4 bands of
    // 2): only pairs sharing a band bucket are candidates; candidates are
    // then verified with exact Jaccard. At scale the band join touches
    // O(n·bands) rows, never O(n²).
    q(
      "q_dedup_minhash",
      s"""WITH $corpusSql, $shinglesSql, $minhashCandsCtes,
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cands c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
         |  GROUP BY 1, 2)
         |${jaccardSql("pairs", 0.3)}""".stripMargin
    ) { (s, dir) =>
      // three consumers (signature pass + both verify joins) — cache the
      // per-doc arrays once, like the ngram index
      val sarr = shingleArrays(corpus(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one forced phase (the lane hovers at the multi-second bar)
      graft.plans.AuditFrames.forced("q_dedup_minhash", "verify") {
        jaccardVerify(sarr, minhashCandsFrom(sarr), 0.3)
      }
    },

    // ★ Dedup-family evaluation harness (the q_ann_recall of fuzzy dedup):
    // recall of the MinHash-LSH candidate set against exact-Jaccard ≥ 0.3
    // ground truth — the loop you run whenever band/row LSH parameters
    // change. Ground truth and candidates are the production shapes
    // (ngramJaccardFrom / minhashCandsFrom) off ONE cached shingle frame,
    // so the harness measures exactly what the dedup queries serve. One
    // summary row: |truth|, |candidates|, overlap, recall.
    q(
      "q_dedup_minhash_recall",
      minhashRecallSql
    ) { (s, dir) =>
      // phase timers: the harness runs TWO capped stages (exact-Jaccard
      // ground truth + LSH candidates) — attribute them separately so
      // the bench artifact explains the headline without re-profiling.
      // Frame construction (the corpus scan's driver file listing after
      // the inter-rep cache clear) runs inside the first phase — it was
      // this lane's unattributed residual (round-20 sweep).
      val (sa, truth) = graft.Bench.phase("q_dedup_minhash_recall.truth") {
        val sa = shingleArrays(corpus(s, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t = ngramJaccardFrom(sa).select(col("doc_a"), col("doc_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        t.count(); (sa, t)
      }
      val cands = graft.Bench.phase("q_dedup_minhash_recall.candidates") {
        val c = minhashCandsFrom(sa)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        c.count(); c
      }
      graft.plans.AuditFrames.forced("q_dedup_minhash_recall", "rollup") {
        val nCand = cands.agg(count(lit(1)).as("n_cand"))
        truth
          .join(cands.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .crossJoin(broadcast(nCand))
          .select(col("n_truth"), col("n_cand"), col("n_hit"),
            // floor-first: recall is a small-integer ratio (the decimal-
            // half class where engine round() semantics diverge)
            CrossRound.col(col("n_hit") / col("n_truth"), 4).as("recall"))
      }
    },

    // ★ Edit-distance verify — the character-level near-dup family:
    // MinHash-LSH candidates (the standard blocking pass, shared with
    // q_dedup_minhash) verified by full Levenshtein distance instead of
    // set Jaccard, keeping pairs at ≥0.6 normalized similarity. Edit
    // distance is O(len²) per pair — exactly why it NEVER runs as a
    // self-join: the signature→bucket→verify shape bounds it to the
    // candidate set (O(n·bands) bucket rows), and per-pair cost is
    // capped by document length, not corpus size. sim = 1 − lev/max_len
    // is one subtract + one divide off integer inputs, IEEE-identical
    // across engines; the 0.6 threshold never sits at a knife edge.
    q(
      "q_dedup_edit_verify",
      s"""WITH $corpusSql, $shinglesSql, $minhashCandsCtes,
         |ed AS (
         |  SELECT c.doc_a, c.doc_b,
         |    levenshtein(x.text, y.text)::BIGINT AS lev,
         |    greatest(length(x.text), length(y.text)) AS mx
         |  FROM cands c JOIN corpus x ON x.doc_id = c.doc_a
         |               JOIN corpus y ON y.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, lev,
         |  floor((1.0 - lev::DOUBLE / mx) * 1e6) / 1e6 + 0.0 AS sim
         |FROM ed WHERE 1.0 - lev::DOUBLE / mx >= 0.6""".stripMargin
    ) { (s, dir) =>
      // corpus text feeds three consumers (shingles + both pair sides)
      val c = corpus(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // phase timers (round-14 verdict item 2): the two stages of the
      // signature→bucket→verify shape, attributable in the bench
      // artifact — LSH blocking vs banded-Levenshtein DP; the residual
      // is the final filter+projection in the caller's action.
      val cands = graft.Bench.phase("q_dedup_edit_verify.candidates") {
        val cd = minhashCandsFrom(shingleArrays(c))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cd.count(); cd
      }
      val x = c.select(col("doc_id").as("doc_a"), col("text").as("ta"))
      val y = c.select(col("doc_id").as("doc_b"), col("text").as("tb"))
      val withLev = cands.join(x, "doc_a").join(y, "doc_b")
        // spread the DP by the FULL pair key before any per-pair work
        // (guide §2.5 — hot keys): cappedBucketPairs keeps the LOWEST-cap
        // ids per bucket, so doc_a concentrates on low ids and the
        // planner's broadcast-cands join runs every pair's O(len·t)
        // Levenshtein inside the one corpus partition owning those ids —
        // measured 3.6 s of DP cpu at ~1.1x wall (sequential) on a
        // 32-core host. Pair-key hash has no hot key by construction.
        // Explicit partition count: the pair frame is KB-sized, so AQE
        // would coalesce a bare repartition right back to one partition —
        // the cost model sees bytes, not DP rows (same trap as the
        // q_compact_apply file-create write).
        .repartition(s.sparkContext.defaultParallelism,
          col("doc_a"), col("doc_b"))
        .withColumn("mx", greatest(length(col("ta")), length(col("tb"))))
        // lev ≥ |len(a) − len(b)|: a pair whose length gap already exceeds
        // 0.4·mx can't reach sim ≥ 0.6 — prune before any DP runs
        .filter(abs(length(col("ta")) - length(col("tb"))) <= lit(0.4) * col("mx"))
        .select(col("doc_a"), col("doc_b"), col("mx"),
          // banded Levenshtein (O(len·t), not O(len²)) with the band
          // DERIVED from the pair: t = ceil(0.4·mx), the exact cutoff the
          // sim ≥ 0.6 filter implies (sim ≥ 0.6 ⇔ lev ≤ 0.4·mx) — so the
          // band is lossless at ANY document length, not just this
          // corpus's 577-char cap. The expression returns the exact
          // distance for every pair the sim filter could keep and −1
          // (dropped below) otherwise. Fenced: `lev` feeds the −1 filter,
          // the sim filter, and the output — unfenced the DP would re-run
          // per consumer after CollapseProject.
          graft.plans.OptimizerBarrier.once(
            expr("levenshtein(ta, tb, cast(ceil(0.4 * mx) as int))")
              .cast("long")).as("lev"))
        .filter(col("lev") >= 0)
      val sim = lit(1.0) - col("lev").cast("double") / col("mx")
      graft.Bench.phase("q_dedup_edit_verify.verify") {
        val out = withLev.filter(sim >= 0.6)
          .select(col("doc_a"), col("doc_b"), col("lev"),
            (floor(sim * 1e6) / 1e6 + 0.0).as("sim"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        out.count(); out
      }
    },

    // SimHash: 60-bit integer signature from per-token md5-hex-char
    // parities (two md5 streams), majority vote per bit; banded (4×15 bits)
    // LSH join; candidates kept at Hamming ≤ 3 via xor+bit_count.
    // 15-bit bands keep bucket sizes small even on a correlated corpus —
    // the 8-bit-band variant produced ~100× the candidate pairs.
    q(
      "q_dedup_simhash",
      simhashSql
    ) { (s, dir) => simhashPairs(s, dir) },

    // ★ Near-dup clustering: connected components over the SimHash edge
    // set — the step that turns pairwise near-dup hits into "keep one per
    // cluster" groups (pairs alone over-delete when A~B and B~C but A≁C).
    // Distributed min-label propagation: every node starts as its own
    // component, each round pushes the smaller label across every edge,
    // fixpoint when the global label sum stops falling — O(diameter)
    // rounds of one join + one min-agg each, never any per-component
    // driver work (the convergence check is a scalar aggregate). Near-dup
    // graphs have tiny-diameter components (planted chains here converge
    // in 3 rounds), so at 100 TB this is a handful of shuffles over an
    // edge set that LSH already bounded.
    q(
      "q_dedup_cluster",
      clusterSql
    ) { (s, dir) =>
      // no lane-level persist: connectedComponents caches the edge
      // frame itself before branching (a second persist is a no-op)
      val pairs = simhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
      connectedComponents(s, pairs)
        .withColumn("csize",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
        .select(
          col("doc_id"),
          col("comp").as("cluster_id"),
          col("csize"),
          (col("doc_id") === col("comp")).as("is_rep"))
    },

    // Embedding-cosine near-dup against a corpus with planted perturbed
    // copies (vec_id+1000000, dim 1 shifted by +0.1): sign-random-projection
    // LSH banding (16 bands × 8 md5-parity hyperplanes) as the candidate
    // filter, exact cosine ≥ 0.98 as the verify stage. Parameters sized
    // from measurement: planted pairs sit at cos ≈ 0.995 (per-plane
    // disagreement ≈ 0.032 → per-pair miss ≈ 6e-11), random same-label
    // pairs max out at cos ≈ 0.47 (~6% band-collide). At scale this is
    // O(n·planes) signatures + a bucket join — the earlier per-label pair
    // scan was Σ label n², quadratic.
    q(
      "q_dedup_embed",
      dedupEmbedSql
    ) { (s, dir) =>
      embedDupPairs(s, dir)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
    },

    // ★ Embedding near-dup CLUSTERING: the verified cosine edge set fed
    // through the same hybrid connected-components as q_dedup_cluster —
    // the embed lane's pair output becomes cluster→canonical assignments
    // (keep the minimum vec_id per component), which is what a dedup
    // pipeline actually consumes. Same 100-TB shape end to end: LSH bounds
    // the edges, CC is O(log diameter) rounds or the bounded local
    // endgame; nothing here scans pairs beyond the verified edge set.
    q(
      "q_dedup_embed_cluster",
      dedupEmbedClusterSql
    ) { (s, dir) =>
      val pairs = embedDupPairs(s, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      connectedComponents(s, pairs)
        .withColumn("csize",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
        .select(
          col("doc_id").as("vec_id"),
          col("comp").as("cluster_id"),
          col("csize"),
          (col("doc_id") === col("comp")).as("is_rep"))
    },

    // ★ SemDeDup — cluster-then-prune semantic dedup (Abbas et al. 2023,
    // arXiv:2303.09540): the OTHER canonical embedding-dedup shape next to
    // q_dedup_embed's LSH bands. K-means-style cells (the shared
    // IvfProvision centroids — same provisioning rule as the ANN family)
    // bound the pair scan: candidates are ALL pairs within a cell, verify
    // is exact cosine ≥ 0.98, dup groups are connected components, and the
    // kept representative per group is the member FARTHEST from its
    // centroid (min cosine-to-centroid; tie → min vec_id) — the paper's
    // keep-the-diverse-example rule. Output is the full kept/pruned corpus
    // assignment, what a curation pipeline actually consumes.
    // Scale: within-cell pair work is Σ c² with c ≈ n/K, so K is the
    // provisioning bound (IvfProvision derives K ≈ √(n/W) from the
    // corpus, so within-cell work grows as n^1.5·√W, not n² — toward
    // the paper's 50k-cluster regime); centroids broadcast
    // (K rows, plan-limited), assignment is the map-side-combinable
    // assignCells kernel, CC runs over verified edges only. The method's
    // documented tradeoff — twins split by a cell boundary are missed —
    // is measured, not guessed: 476/500 planted twins at sf0.01, 474/500
    // at sf0.001, 1910/2000 at sf0.1 (the LSH lane catches all 500;
    // docs/SCALING.md round 14).
    q(
      "q_dedup_semantic",
      dedupSemanticSql
    ) { (s, dir) =>
      val n = embedCorpus(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cents = SimilarityQueries.IvfProvision
        .seeds(n.filter(col("vec_id") < 1000000L))
        .select(col("vec_id").as("c_id"), col("e").as("ce"))
      // both pair-join sides + the rank join + the final projection read
      // the assignment — one cached frame, not four crossJoin replays
      val assign = SimilarityQueries
        .assignCells(n, cents, Seq("e"), keepCos = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = assign.select(col("vec_id").as("va"), col("c_id"), col("e").as("ea"))
      val b = assign.select(col("vec_id").as("vb"), col("c_id").as("cb"), col("e").as("eb"))
      val pairs = a
        .join(b, col("c_id") === col("cb") && col("va") < col("vb"))
        .withColumn("cos",
          graft.functions.VectorExpressions.cosineSimilarity(col("ea"), col("eb")))
        .filter(col("cos") >= 0.98)
        .select(col("va").as("doc_a"), col("vb").as("doc_b"))
      val lab = connectedComponents(s, pairs)
        .select(col("doc_id").as("vec_id"), col("comp").as("grp"))
      val ranked = lab
        .join(assign.select(col("vec_id"), col("ccos")), "vec_id")
        .withColumn("kr", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp")).orderBy(col("ccos").asc, col("vec_id").asc)))
      assign.select(col("vec_id"), col("c_id"))
        .join(ranked.select(col("vec_id"), col("grp"), (col("kr") === 1).as("k")),
          Seq("vec_id"), "left")
        .select(
          col("vec_id"), col("c_id"),
          coalesce(col("grp"), col("vec_id")).as("grp"),
          coalesce(col("k"), lit(true)).as("keep"))
    },

    // ★ Exact SUBSTRING dedup — the third canonical training-data dedup
    // family alongside whole-document exact (q_dedup_exact) and fuzzy
    // near-dup (minhash/simhash/ngram): cross-document repeated
    // token-window detection, the suffix-array-style span dedup of LLM
    // corpus pipelines. Every stride-1 token window is fingerprinted
    // (md5 of the joined window; a rolling hash makes each fingerprint
    // O(1) instead of O(w) without changing the dataflow) and windows
    // shared across doc_ids become pair evidence. Window w = 20 tokens at
    // fixture scale — the corpus averages 55 tokens/doc (the canonical 50
    // of production substring dedup is just this parameter turned up).
    // The planted duplicate is a PREFIX-TRIMMED copy (doc_id+1000000,
    // first 7 tokens dropped): whole-doc hashing misses it entirely and
    // the fuzzy corpus' every-7th-token mutation can't match exactly, but
    // it shares every interior window with its original — exactly the
    // cross-document repeated-span case this family exists for.
    // Scale: per-doc fingerprints are a linear explode (O(tokens) windows
    // per doc); pair generation is the same bounded posting-list shape as
    // the ngram index — dedup each doc to its first occurrence per
    // fingerprint (one hash agg), CAP each fingerprint bucket at its
    // [[bandBucketCap]] lowest doc_ids (a spillable window rank — no
    // bucket is ever materialized as one row), then a keyed self-join
    // emits ≤ cap²/2 pairs per bucket — never O(n²) docs and never an
    // unbounded boilerplate bucket. The oracle replays the cap verbatim.
    q(
      "q_dedup_substring",
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(string_split(text, ' ')[8:], ' ')
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
        |w AS (
        |  SELECT doc_id, unnest(generate_series(1, len(l) - 19)) AS pos, l
        |  FROM tok),
        |wf AS (SELECT doc_id, pos, md5(array_to_string(l[pos:pos+19], ' ')) AS fp FROM w),
        |wmin AS (SELECT doc_id, fp, min(pos) AS pos FROM wf GROUP BY 1, 2),
        |wcap AS (SELECT doc_id, fp, pos FROM (
        |  SELECT doc_id, fp, pos,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM wmin) WHERE rn <= $bandBucketCap)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared,
        |  min(a.pos)::BIGINT AS first_pos_a, min(b.pos)::BIGINT AS first_pos_b
        |FROM wcap a JOIN wcap b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin
    ) { (s, dir) =>
      // single lazy pipeline: fingerprint explode → bucket cap → keyed
      // self-join. One forced phase (no internal stage is worth its own
      // cache — the caching-vs-recompute A/Bs of round 19) makes the
      // caller's action a cache read; the audit sees the pre-force plan.
      graft.plans.AuditFrames.forced("q_dedup_substring", "pairs") {
        substringPairs(windowFingerprints(substringCorpus(s, dir), 20))
      }
    },

    // ★ Repeated-span REMOVAL — what substring dedup is FOR in a training
    // pipeline: q_dedup_substring only reports the shared spans; this
    // pass rewrites the corpus with them excised. Keep policy: per shared
    // window fingerprint the HIGHEST doc_id keeps its text, every other
    // doc has the covered tokens cut out (deterministic; production
    // swaps in first-seen or quality-ranked keep without changing the
    // dataflow). Output is md5-pinned like q_pii_scrub: the hash covers
    // the entire rewritten text, so the oracle proves the string surgery
    // itself, not just the counts.
    // Scale: windows and token explodes are linear in corpus tokens; the
    // cover explode is O(masked windows × w) ≤ O(tokens); every join and
    // group-by after the fingerprint bucket step is keyed by doc_id, so
    // the rewrite stays partition-local once tokens are co-located. The
    // boilerplate df cap of q_dedup_substring applies to `keepers`
    // unchanged at 100 TB.
    q(
      "q_dedup_substring_scrub",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(string_split(text, ' ')[8:], ' ')
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
        |w AS (
        |  SELECT doc_id, unnest(generate_series(1, len(l) - 19)) AS pos, l
        |  FROM tok),
        |wf AS (SELECT doc_id, pos, md5(array_to_string(l[pos:pos+19], ' ')) AS fp FROM w),
        |keepers AS (
        |  SELECT fp, max(doc_id) AS keeper FROM wf
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |covered AS (
        |  SELECT DISTINCT doc_id, idx FROM (
        |    SELECT wf.doc_id, unnest(generate_series(wf.pos, wf.pos + 19)) AS idx
        |    FROM wf JOIN keepers k ON wf.fp = k.fp AND wf.doc_id <> k.keeper)),
        |tokpos AS (
        |  SELECT doc_id, unnest(l) AS tok,
        |    unnest(generate_series(1, len(l))) AS i FROM tok),
        |marked AS (
        |  SELECT tp.doc_id, tp.i, tp.tok, c.doc_id IS NOT NULL AS masked
        |  FROM tokpos tp LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.i = c.idx)
        |SELECT doc_id,
        |  md5(coalesce(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE NOT masked), ''))
        |    AS scrub_md5,
        |  sum(CASE WHEN masked THEN 1 ELSE 0 END)::BIGINT AS n_removed,
        |  sum(CASE WHEN NOT masked THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM marked GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      substringScrub(substringCorpus(s, dir), 20)
        .select(col("doc_id"), md5(col("scrub_text")).as("scrub_md5"),
          col("n_removed"), col("n_kept"))
    },

    // ★ C4-style LINE dedup — the fourth canonical corpus-dedup family
    // (C4 §2.2 of the T5 paper: "we discarded all but one of any
    // three-sentence span occurring more than once in the data set",
    // applied here at line granularity the way most open pipelines run
    // it): the corpus-wide pass that removes every repeated LINE, keeping
    // only its first occurrence, then reassembles each document from its
    // surviving lines. The fixture corpus has no newlines, so a "line" is
    // a fixed 10-token segment of the token stream; the planted duplicate
    // is a copy of every 5th doc (doc_id+1000000) with a 10-token
    // boilerplate sentence prepended — exactly one segment long, so every
    // segment of the copy aligns with a segment of its original: the copy
    // must scrub to empty (boilerplate included, which survives only in
    // the lowest-id copy), while original docs pass through untouched.
    // Output is md5-pinned like q_dedup_substring_scrub: the hash covers
    // the reassembled text, proving the keep-first surgery, not just the
    // counts.
    // Scale: segmentation is a linear explode (O(tokens/w) lines per
    // doc); first-occurrence is ONE hash agg keyed by line text (map-side
    // partial mins absorb boilerplate skew — the agg output is O(distinct
    // lines), never O(corpus)) plus one keyed join back and one doc_id
    // agg for reassembly. Three keyed exchanges total, no window sort
    // over the global line partition, nothing quadratic — the same shape
    // C4 runs over hundreds of TB.
    q(
      "q_dedup_lines_c4",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    'the data line merge sort batch join scan filter group ' || text
        |  FROM documents WHERE doc_id % 5 = 0),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
        |seg AS (
        |  SELECT doc_id, unnest(generate_series(0, (len(l) - 1) // 10)) AS i, l
        |  FROM tok),
        |segs AS (
        |  SELECT doc_id, i, array_to_string(l[i*10+1:i*10+10], ' ') AS seg
        |  FROM seg),
        |marked AS (
        |  SELECT doc_id, i, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, i) = 1 AS kept
        |  FROM segs)
        |SELECT doc_id, count(*)::BIGINT AS n_seg,
        |  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  sum(CASE WHEN NOT kept THEN 1 ELSE 0 END)::BIGINT AS n_removed,
        |  md5(coalesce(string_agg(seg, ' ' ORDER BY i) FILTER (WHERE kept), ''))
        |    AS c4_md5
        |FROM marked GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val corpus = d.unionByName(d.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("the data line merge sort batch join scan filter group "),
          col("text")).as("text")))
      lineDedup(corpus, 10)
        .select(col("doc_id"), col("n_seg"), col("n_kept"), col("n_removed"),
          md5(col("c4_text")).as("c4_md5"))
    },

    // ★ INCREMENTAL dedup — new batch vs existing index, the shape every
    // production corpus actually runs: the full-corpus pass (q_dedup_minhash)
    // happens once; every day after, a crawl increment must be deduped
    // against the EXISTING corpus without re-pairing the corpus with
    // itself. Fixture: the base documents are the index, the mutated
    // copies (doc_id+1000000, the fuzzy-family mutation) are the incoming
    // batch; same md5-minhash banding as q_dedup_minhash, but candidates
    // come from ONE keyed equi-join of batch bands against index bands —
    // index×index and batch×batch pairs are never generated, by
    // construction of the join, not by post-filtering. Exact-Jaccard
    // verify on the cross-set candidates only; output is the batch-side
    // dedup decision (doc_batch, dup_of, jac).
    // Scale: in production the index bands are STORED (written once by
    // the full pass, bucketed by (b, bv)); the per-increment cost is then
    // shingle+sign the batch — O(batch tokens) — plus a keyed join whose
    // shuffle moves only the batch side against co-located index buckets.
    // The Σ df² pair blowup of the full pass never recurs; re-banding the
    // index here is fixture determinism, not the dataflow.
    q(
      "q_dedup_incremental",
      s"""WITH $corpusSql, $shinglesSql, $minhashBandsCtes,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
         |  WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cands c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
         |  GROUP BY 1, 2)
         |SELECT doc_a AS doc_batch, doc_b AS dup_of, jac FROM (
         |${jaccardSql("pairs", 0.3)})""".stripMargin
    ) { (s, dir) =>
      incrementalDedup(corpus(s, dir), 1000000L, 0.3)
    },

    // ★ STORED-index incremental dedup — the same batch-vs-index semantics
    // as q_dedup_incremental, but with the index band table actually
    // WRITTEN to disk bucketed by the join key (b, bv) and the increment
    // joining against the STORED table. This is the production dataflow
    // the q_dedup_incremental scaladoc promises: the bucketed write is the
    // one-time cost of the full-corpus pass; after it, every increment's
    // candidate join reads the index straight off its co-located buckets —
    // ZERO exchange on the index side (plan-guarded in
    // StoredIndexDedupSpec), only the batch bands shuffle to the bucket
    // layout. The merge hint pins the 100-TB join shape at fixture scale
    // too (a broadcast of the small fixture index would hide the bucketed
    // scan the plan audit exists to show). Oracle: identical to
    // q_dedup_incremental — storage layout must be semantically invisible.
    q(
      "q_dedup_incremental_stored",
      s"""WITH $corpusSql, $shinglesSql, $minhashBandsCtes,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
         |  WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cands c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
         |  GROUP BY 1, 2)
         |SELECT doc_a AS doc_batch, doc_b AS dup_of, jac FROM (
         |${jaccardSql("pairs", 0.3)})""".stripMargin
    ) { (s, dir) =>
      // one forced phase over the whole build+serve (the helper's
      // bucketed-store write runs eagerly inside it); the direct helper
      // calls StoredIndexDedupSpec plan-pins stay un-forced
      graft.plans.AuditFrames.forced("q_dedup_incremental_stored", "serve") {
        incrementalDedupStored(s, corpus(s, dir), 1000000L, 0.3)
      }
    },

    // ★ Tombstone DELETE for the stored dedup band index — the takedown
    // verb completing the FOURTH stored family's lifecycle (IVF, graph,
    // BM25 gained it this round; the dedup band index has
    // stored/incremental and now delete): a removed document must stop
    // matching future batches (it can no longer be anyone's dup_of), and
    // a corpus store needs that without rebuilding the index. Steps:
    //   1. TOMBSTONE append: O(deletes) — the takedown id list only,
    //      never a stored row (plan captured for DeleteApplySpec).
    //   2. COMPACTION drops tombstoned docs' band rows PHYSICALLY:
    //      reads ONLY the stored table + tombstones (broadcast
    //      anti-join), rewrites a fresh epoch under the SAME
    //      (b, bv)-bucketed spec, epoch 0 retires read-only.
    //   3. SERVING is the unchanged batch-vs-index candidate join over
    //      the compacted epoch (merge hint pins the bucketed shape) +
    //      exact-Jaccard verify — deleted docs are physically gone, so
    //      no serve-time filter exists or is needed.
    // Band rows are per-doc independent, so tombstone-drop is exactly
    // the one-shot rebuild over survivors — the oracle is
    // q_dedup_incremental's text with the survivor predicate on the
    // index side of the candidate join. Batch variants of a DELETED doc
    // simply stop matching (their dup target is gone) — the honest
    // takedown semantics: the next full rebuild re-points nothing,
    // because the doc no longer exists.
    q(
      "q_dedup_delete_apply",
      s"""WITH $corpusSql, $shinglesSql, $minhashBandsCtes,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
         |  WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000 AND b.doc_id % 10 <> 7),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cands c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
         |  GROUP BY 1, 2)
         |SELECT doc_a AS doc_batch, doc_b AS dup_of, jac FROM (
         |${jaccardSql("pairs", 0.3)})""".stripMargin
    ) { (s, dir) => dedupDeleteServe(s, dir).served },

    // ★ Triangle count over the near-dup graph — the cluster-COHESION
    // metric dedup pipelines read before choosing a keep policy: a
    // component that is a clique of true duplicates (dense triangles) can
    // keep one representative; a chain of borderline pairs (no triangles)
    // is transitive-closure noise where keep-one would delete distinct
    // docs. Algorithm is the degree-oriented distributed count (Schank's
    // forward algorithm, the standard MPC/MapReduce shape): orient every
    // edge from the lower (degree, id) endpoint to the higher, emit
    // wedges by joining out-edges on their source, close them against the
    // oriented edge set. Each triangle is counted exactly once, and every
    // node's out-degree is bounded by O(√m) — the hub node of a skewed
    // graph becomes everyone's DST, never a wedge SRC, so no task
    // enumerates a hub's full neighborhood; wedge volume is Σ outdeg² ≤
    // O(m^1.5) worst-case, keyed joins throughout.
    q(
      "q_triangle_count",
      s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($simhashSql)),
         |tri AS (
         |  SELECT count(*)::BIGINT AS n_triangles FROM pairs e1
         |  JOIN pairs e2 ON e2.doc_a = e1.doc_a AND e2.doc_b > e1.doc_b
         |  JOIN pairs e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b),
         |ne AS (SELECT count(*)::BIGINT AS n_edges FROM pairs)
         |SELECT n_edges, n_triangles FROM ne, tri""".stripMargin
    ) { (s, dir) =>
      // phase split (round-20 attribution sweep): edge generation (the
      // simhash band join — cached inside triangleCount either way) vs
      // the orient+wedge+close count, forced as the declared output
      val pairs = graft.Bench.phase("q_triangle_count.edges") {
        val p = simhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      }
      graft.plans.AuditFrames.forced("q_triangle_count", "count") {
        triangleCount(pairs)
      }
    },

    // ★ Dup-cluster size report — the artifact a dedup run actually ships
    // to its operators: the cluster-size histogram (how many clusters of
    // each size, how many docs they hold, the smallest cluster id per
    // size as a drill-down handle) PLUS the singleton row — docs that
    // appear in no near-dup pair, counted by difference against the
    // corpus total so the report partitions the corpus exactly (CC
    // clusters are always ≥ 2 docs, so size 1 is unambiguous). Shape at
    // 100 TB: the histogram is O(distinct sizes) rows — always tiny — and
    // everything upstream is the existing bounded CC machinery; the
    // corpus total is one 1-row agg crossed in. This is the query that
    // catches the classic dedup failure modes at a glance: a giant
    // near-everything cluster (boilerplate collapse) shows up as one row
    // with a huge cluster_size; an over-tight threshold shows up as all
    // singletons.
    q(
      "q_cluster_stats",
      clusterStatsSql
    ) { (s, dir) =>
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // no pairs persist here: connectedComponents caches the edge frame
      // itself (its first statement), and this builder never re-reads it
      val pairs = simhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val cl = connectedComponents(s, pairs)
        .groupBy(col("comp")).agg(count(lit(1)).as("csize"))
        .persist(MEMORY_AND_DISK)
      val hist = cl.groupBy(col("csize").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"), min(col("comp")).as("min_cluster_id"))
        .select(col("cluster_size"),
          col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          col("min_cluster_id"))
      val totals = Tables(s, dir).documents.agg(count(lit(1)).as("n_total"))
        .crossJoin(broadcast(
          cl.agg(coalesce(sum(col("csize")), lit(0L)).as("n_clustered"))))
      val singletons = totals.select(
        lit(1L).as("cluster_size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"),
        lit(null).cast("long").as("min_cluster_id"))
      hist.unionByName(singletons)
    }
  )

  /** Degree-oriented exact triangle count over an undirected edge frame
    * (doc_a, doc_b), distinct pairs: returns ONE row (n_edges,
    * n_triangles). See the q_triangle_count scaladoc for the O(√m)
    * out-degree bound; public so TriangleCountSpec can prove the count on
    * hand-built graphs (clique, star, chain). */
  def triangleCount(edges: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.persist(MEMORY_AND_DISK)
    val deg = e.select(explode(array(col("doc_a"), col("doc_b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient low-(deg,id) → high-(deg,id); carry the dst order key so
    // wedge endpoints can be ordered without re-joining degrees
    val oriented = e
      .join(deg.select(col("v").as("doc_a"), col("d").as("da")), "doc_a")
      .join(deg.select(col("v").as("doc_b"), col("d").as("db")), "doc_b")
      .select(
        when(struct(col("da"), col("doc_a")) < struct(col("db"), col("doc_b")),
          struct(col("doc_a").as("src"), col("doc_b").as("dst"),
            struct(col("db").as("d"), col("doc_b").as("v")).as("kdst")))
          .otherwise(
            struct(col("doc_b").as("src"), col("doc_a").as("dst"),
              struct(col("da").as("d"), col("doc_a").as("v")).as("kdst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.kdst").as("kdst"))
      .persist(MEMORY_AND_DISK)
    val wedges = oriented.select(col("src"), col("dst").as("v"), col("kdst").as("kv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("kdst").as("kw")), "src")
      .filter(col("kv") < col("kw"))
      .select(col("v"), col("w"))
    // a wedge (v, w) with k(v) < k(w) closes iff the oriented edge v→w
    // exists (orientation follows the same total order)
    val tri = wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }

  /** Batch-vs-index dedup over a (doc_id, lang, text) frame: docs with
    * id ≥ `splitId` are the incoming batch, the rest the existing index.
    * Candidates come from ONE keyed equi-join of batch minhash bands
    * against index bands — index×index and batch×batch pairs are never
    * generated — then exact-Jaccard verify at `threshold`. Returns
    * (doc_batch, dup_of, jac). Public so IncrementalDedupSpec can prove
    * the cross-set-only property on a fixture with index-internal dups. */
  def incrementalDedup(docs: DataFrame, splitId: Long, threshold: Double): DataFrame = {
    val sarr = shingleArrays(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = minhashBands(sarr)
    val idx = bands.filter(col("doc_id") < splitId)
      .select(col("b"), col("bv"), col("doc_id").as("doc_b"))
    val bat = bands.filter(col("doc_id") >= splitId)
      .select(col("b"), col("bv"), col("doc_id").as("doc_a"))
    val cands = bat.join(idx, Seq("b", "bv"))
      .select(col("doc_a"), col("doc_b")).distinct()
    jaccardVerify(sarr, cands, threshold)
      .select(col("doc_a").as("doc_batch"), col("doc_b").as("dup_of"), col("jac"))
  }

  /** Number of buckets for the stored band index. 8 at fixture scale; at
    * 100 TB the same write uses O(cluster cores) buckets — the value is a
    * layout knob, not a semantic one (StoredIndexDedupSpec proves results
    * are identical to the in-memory variant either way). */
  private[graft] val indexBuckets = 8



  /** Stored-index variant of [[incrementalDedup]]: writes the index band
    * table bucketed+sorted by the join key `(b, bv)` — the one-time cost
    * of the full-corpus pass — then joins batch bands against the STORED
    * table. Bucketing IS the index side's exchange, paid once at write
    * time: the candidate join reads the index straight off co-located
    * buckets with zero exchange on that side, and only the batch bands
    * (O(increment)) shuffle to the bucket layout per run. The
    * `repartition` before the write aligns writer tasks with bucket ids
    * (same Murmur3-pmod hash both sides) so each bucket lands in one
    * file — that keeps the stored side sort-free at read time too.
    * Returns the same (doc_batch, dup_of, jac) decision as the in-memory
    * variant; public so StoredIndexDedupSpec can plan-guard the join and
    * diff the two variants bit-for-bit. */
  def incrementalDedupStored(s: SparkSession, docs: DataFrame, splitId: Long,
      threshold: Double): DataFrame = {
    val sarr = shingleArrays(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = minhashBands(sarr)
    // Unique name+path per invocation AND per JVM (plans.ScratchDirs,
    // exit-cleaned): the returned frame reads the stored table LAZILY,
    // so a shared name would let a second invocation's overwrite delete
    // the files under the first one's unsealed result, two concurrent
    // calls would race on the catalog entry, and an invocation counter
    // alone would collide across JVMs sharing one tmpdir. Catalog
    // entries are session-lifetime (in-memory catalog) and the
    // fixture-scale band table is ~100 KB per invocation under tmpdir —
    // bounded, documented cost of keeping every returned frame valid.
    val tbl = writeBandTable(
      bands.filter(col("doc_id") < splitId)
        .select(col("b"), col("bv"), col("doc_id").as("doc_b")),
      s"index-$splitId")
    val idx = s.table(tbl)
    val bat = bands.filter(col("doc_id") >= splitId)
      .select(col("b"), col("bv"), col("doc_id").as("doc_a"))
    // merge hint: pin the sort-merge-on-buckets shape even when the
    // fixture-scale index would broadcast — the declared plan is the
    // 100-TB plan
    val cands = bat.join(idx.hint("merge"), Seq("b", "bv"))
      .select(col("doc_a"), col("doc_b")).distinct()
    jaccardVerify(sarr, cands, threshold)
      .select(col("doc_a").as("doc_batch"), col("doc_b").as("dup_of"), col("jac"))
  }

  /** What q_dedup_delete_apply hands back, exposed private[graft] for
    * DeleteApplySpec: the epoch-0 stored band table name, the tombstone
    * ingest plan (captured pre-write), the tombstone path, the compacted
    * epoch table name, the compaction plan, and the served decisions. */
  private[graft] final case class DedupDeleteResult(
      store0Tbl: String, tombstonePlan: String, tombPath: String,
      epochTbl: String, rewritePlan: String, served: DataFrame)

  /** Write a band frame as the (b, bv)-bucketed+sorted index table the
    * stored lanes' zero-exchange candidate joins depend on — the ONE
    * place the layout contract (bucket count, repartition-to-bucket
    * alignment, unique per-invocation name+path) lives; shared by
    * [[incrementalDedupStored]] and [[dedupDeleteServe]] so an epoch can
    * never silently stop matching the stored lane's join shape. Returns
    * the table name. */
  private def writeBandTable(df: DataFrame, tag: String): String = {
    val dirF = graft.plans.ScratchDirs.unique(s"graft-band-$tag")
    val tbl = dirF.getName.replace('-', '_').replace('.', '_')
    df.repartition(indexBuckets, col("b"), col("bv"))
      .write.mode("overwrite")
      .bucketBy(indexBuckets, "b", "bv").sortBy("b", "bv")
      .option("path", dirF.getAbsolutePath)
      .saveAsTable(tbl)
    tbl
  }

  private[graft] def dedupDeleteServe(s: SparkSession, dir: String,
      takedown: Option[DataFrame] = None): DedupDeleteResult = {
    val sarr = shingleArrays(corpus(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = minhashBands(sarr)
    val store0Tbl = graft.Bench.phase("q_dedup_delete_apply.build") {
      writeBandTable(bands.filter(col("doc_id") < 1000000L)
        .select(col("b"), col("bv"), col("doc_id").as("doc_b")), "del-v0")
    }
    // 1) tombstone append: the takedown list only — O(deletes), never a
    // stored row (the shared %10==7 takedown predicate of the IVF/graph
    // delete lanes, so the four families' fixtures stay comparable;
    // `takedown` swaps in the production shape — an explicit id table —
    // the DeleteApplySpec list arm drives into all four families)
    val dels = takedown.getOrElse(
      Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") % 10 === 7))
    val tombPath = graft.plans.ScratchDirs.unique("graft-band-del-tomb").getAbsolutePath
    // plan captures pay Catalyst analysis passes — inside their phases
    // (round-20 attribution sweep)
    val tombstonePlan = graft.Bench.phase("q_dedup_delete_apply.tombstone") {
      val p = dels.queryExecution.executedPlan.toString
      dels.write.mode("overwrite").parquet(tombPath)
      p
    }
    // 2) compaction applies the deletes physically: stored table +
    // tombstones only, broadcast anti-join, fresh epoch under the same
    // bucket spec. Tombstone read (schema inference) and plan capture
    // run inside the phase (round-20 attribution sweep).
    val (epochTbl, rewritePlan) = graft.Bench.phase("q_dedup_delete_apply.compact") {
      val tomb = s.read.parquet(tombPath).select(col("doc_id").as("doc_b"))
      val survivors = s.table(store0Tbl).join(broadcast(tomb), Seq("doc_b"), "left_anti")
        .select(col("b"), col("bv"), col("doc_b"))
      val p = survivors.queryExecution.executedPlan.toString
      (writeBandTable(survivors, "del-epoch"), p)
    }
    // 3) serve: batch bands vs the compacted epoch (bucketed join shape
    // pinned by the merge hint), exact-Jaccard verify
    val served = graft.Bench.phase("q_dedup_delete_apply.serve") {
      val bat = bands.filter(col("doc_id") >= 1000000L)
        .select(col("b"), col("bv"), col("doc_id").as("doc_a"))
      val cands = bat.join(s.table(epochTbl).hint("merge"), Seq("b", "bv"))
        .select(col("doc_a"), col("doc_b")).distinct()
      // forced as an eager leaf: the verify join IS the declared output
      // (safe to force — the caller reuses the materialized rows), and
      // without it ~46% of the bench headline ran unattributed in the
      // caller's action (round-18 attribution sweep)
      graft.plans.AuditFrames.put("q_dedup_delete_apply",
        jaccardVerify(sarr, cands, 0.3)
          .select(col("doc_a").as("doc_batch"), col("doc_b").as("dup_of"), col("jac")))
        .localCheckpoint(true)
    }
    DedupDeleteResult(store0Tbl, tombstonePlan, tombPath, epochTbl, rewritePlan, served)
  }

  /** C4-style line-level dedup over a (doc_id, text) frame: the token
    * stream is cut into fixed `w`-token segments ("lines"; the final one
    * may be shorter), every segment whose text already occurred earlier in
    * the corpus — ordered by (doc_id, position) — is removed, and each doc
    * is reassembled from its surviving segments in order. Returns one row
    * per input doc: (doc_id, n_seg, n_kept, n_removed, c4_text); a doc
    * whose every line is a repeat scrubs to the empty string. Public so
    * the edge-case spec can drive it with hand-built docs (intra-doc
    * repeat, short tail segment, whole-doc repeat) at a small w. */
  def lineDedup(docs: DataFrame, w: Int): DataFrame = {
    val segs = docs
      .withColumn("l", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("l")) - 1) / lit(w)).cast("int")),
          i => concat_ws(" ", slice(col("l"), i * w + 1, lit(w))))))
      .toDF("doc_id", "i", "seg")
    // ONE hash agg keyed by line text — the lexicographic (doc_id, i) min
    // is the keep-policy; map-side partials bound hot boilerplate lines.
    val firsts = segs.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("i"))).as("first"))
    val marked = segs.join(firsts, "seg")
      .withColumn("kept", struct(col("doc_id"), col("i")) === col("first"))
    marked.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_seg"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
      concat_ws(" ", transform(
        filter(sort_array(collect_list(struct(col("i"), col("kept"), col("seg")))),
          x => x.getField("kept")),
        x => x.getField("seg"))).as("c4_text"))
  }

  /** Corpus for the substring family: documents ∪ a PREFIX-TRIMMED copy
    * (doc_id+1000000, first 7 tokens dropped) — shares every interior
    * window with its original while defeating whole-doc hashing and the
    * fuzzy corpus' every-7th-token mutation. */
  private def substringCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    d.unionByName(d.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ",
        slice(split(col("text"), " "), lit(8), size(split(col("text"), " ")))).as("text")))
  }

  /** Every stride-1 `w`-token window fingerprint with its 1-based start
    * position: (doc_id, pos, fp). Linear explode — O(tokens) windows per
    * doc. ANSI guard: sequence(1, n-w+1) turns DESCENDING for short docs;
    * they contribute zero windows (same pattern as shingleArray). */
  private def windowFingerprints(docs: DataFrame, w: Int): DataFrame =
    docs
      .withColumn("l", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(transform(
          when(size(col("l")) >= w, sequence(lit(1), size(col("l")) - (w - 1)))
            .otherwise(array().cast("array<int>")),
          i => md5(concat_ws(" ", slice(col("l"), i, lit(w)))))))
      .toDF("doc_id", "p0", "fp")
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("fp"))

  /** q_dedup_substring's pair generation over a (doc_id, pos, fp) window
    * frame: dedup each doc to its first occurrence per fingerprint, cap
    * each fingerprint bucket at its [[bandBucketCap]] lowest doc_ids
    * (spillable window rank, replayed verbatim in the oracle), self-join
    * capped buckets into pairs, and aggregate shared-window evidence per
    * pair. Exposed private[graft] so the degenerate-bucket spec can
    * drive it with a planted boilerplate fingerprint wider than the cap. */
  private[graft] def substringPairs(fps: DataFrame): DataFrame =
    cappedBucketPairs(
      fps.groupBy(col("fp"), col("doc_id")).agg(min(col("pos")).as("pos")),
      Seq("fp"), payload = Seq("pos"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("pos_a")).as("first_pos_a"),
        min(col("pos_b")).as("first_pos_b"))

  /** Repeated-span removal over a (doc_id, text) frame: for every w-token
    * window fingerprint appearing in ≥2 docs, the highest doc_id keeps its
    * occurrences and every other doc has the covered token positions
    * excised. Returns one row per input doc: (doc_id, scrub_text,
    * n_removed, n_kept) — a doc whose text is entirely shared scrubs to
    * the empty string (n_kept = 0), and a doc with no shared windows
    * passes through untouched. Public so the edge-case spec can drive it
    * with hand-built docs (span at doc start / doc end / whole doc) at a
    * small w. */
  def substringScrub(docs: DataFrame, w: Int): DataFrame = {
    val toks = docs.withColumn("l", split(col("text"), " "))
    val wf = windowFingerprints(docs, w)
    // shared fingerprints with their keeper; ≥2 DISTINCT docs (a window
    // repeated within one doc is not cross-document evidence)
    val keepers = wf.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"), max(col("doc_id")).as("keeper"))
      .filter(col("nd") >= 2)
      .select(col("fp"), col("keeper"))
    // token positions covered by a masked window occurrence
    val covered = wf.join(keepers, "fp")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id").as("c_doc"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("idx"))
      .distinct()
    val tokpos = toks
      .select(col("doc_id"), posexplode(col("l")))
      .toDF("doc_id", "i0", "tok")
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"), col("tok"))
    tokpos
      .join(covered, col("doc_id") === col("c_doc") && col("i") === col("idx"), "left")
      .withColumn("masked", col("c_doc").isNotNull)
      .groupBy(col("doc_id"))
      .agg(
        // ordered rebuild: sort_array on (i, tok) structs restores token
        // order (i is unique per doc); collect_list drops the nulls the
        // `when` leaves for masked tokens
        array_join(
          transform(
            sort_array(collect_list(when(!col("masked"), struct(col("i"), col("tok"))))),
            x => x.getField("tok")),
          " ").as("scrub_text"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(!col("masked"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Verified embedding near-dup pairs (vec_a < vec_b, cos ≥ 0.98) — the
    * q_dedup_embed body, shared with q_dedup_embed_cluster as its edge
    * set. Four consumers of the corpus (banding both sides + verify both
    * sides): cache it once, like the shingle frames above. */
  private def embedDupPairs(s: SparkSession, dir: String): DataFrame = {
    val n = embedCorpus(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    embedDupPairsFrom(n)
  }

  /** The pair derivation off an ALREADY-persisted corpus frame — split
    * out so q_hard_negatives can share one cached corpus between the
    * exclusion edges and its own scoring scan. */
  private[queries] def embedDupPairsFrom(n: DataFrame): DataFrame = {
    val cands = embedCandidates(n)
    val a = n.select(col("vec_id").as("vec_a"), col("e").as("ea"))
    val b = n.select(col("vec_id").as("vec_b"), col("e").as("eb"))
    cands
      .join(a, "vec_a").join(b, "vec_b")
      .withColumn("cos", graft.functions.VectorExpressions.cosineSimilarity(col("ea"), col("eb")))
      .filter(col("cos") >= 0.98)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** MinHash recall oracle: the ngram ground-truth CTEs + the minhash
    * band CTEs (verbatim from those oracles), left-join overlap count. */
  private lazy val minhashRecallSql: String =
    s"""WITH $corpusSql, $shinglesSql, $shCapSql,
       |tp AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM shcap a JOIN shcap b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT p.doc_a, p.doc_b, p.inter::DOUBLE / (x.n + y.n - p.inter) AS jac
       |    FROM tp p JOIN sc x ON p.doc_a = x.doc_id JOIN sc y ON p.doc_b = y.doc_id)
       |  WHERE jac >= 0.3),
       |$minhashCandsCtes,
       |cc AS (SELECT count(*) AS n_cand FROM cands)
       |SELECT count(*) AS n_truth, cc.n_cand,
       |  sum(CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_hit,
       |  ${CrossRound.sql("sum(CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END)::DOUBLE / count(*)", 4)} AS recall
       |FROM truth t
       |LEFT JOIN cands c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
       |CROSS JOIN cc
       |GROUP BY cc.n_cand""".stripMargin

  /** Embed-cluster oracle: transitive closure of the verified embed edge
    * set (same recursive-CTE shape as clusterSql). */
  private lazy val dedupEmbedClusterSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT vec_a, vec_b FROM ($dedupEmbedSql)),
       |nodes AS (SELECT DISTINCT vec_id FROM (
       |  SELECT vec_a AS vec_id FROM pairs UNION SELECT vec_b FROM pairs)),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |          UNION SELECT vec_b, vec_a FROM pairs),
       |reach(node, comp) AS (
       |  SELECT vec_id, vec_id FROM nodes
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
       |lab AS (SELECT node AS vec_id, min(comp) AS cluster_id FROM reach GROUP BY node)
       |SELECT vec_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS csize,
       |  vec_id = cluster_id AS is_rep
       |FROM lab""".stripMargin

  /** SemDeDup oracle: the embed-corpus CTE, centroid seeds via the shared
    * IvfProvision `cprm` CTE (base slice only — the versioned-index
    * contract), argmax-cosine assignment (the q_similarity_ivf idiom,
    * verbatim tie-break), all pairs within a cell at cos ≥ 0.98, recursive
    * components, keep = row 1 of (ccos ASC, vec_id ASC) per group. */
  private lazy val dedupSemanticSql: String = {
    import SimilarityQueries.IvfProvision
    s"""WITH RECURSIVE corpus AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, label,
       |    list_transform(generate_series(1, 64),
       |      i -> embedding[i]::DOUBLE + (CASE WHEN i = 1 THEN 0.1 ELSE 0.0 END))
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM corpus),
       |${IvfProvision.prmSql("n WHERE vec_id < 1000000")},
       |c AS (SELECT vec_id AS c_id, e AS ce, nrm AS cn
       |  FROM n CROSS JOIN cprm WHERE ${IvfProvision.predSql} AND vec_id < 1000000),
       |assign AS (
       |  SELECT vec_id, c_id, ccos FROM (
       |    SELECT a.vec_id, c.c_id,
       |      list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * c.ce[i])) / (a.nrm * c.cn) AS ccos,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * c.ce[i])) / (a.nrm * c.cn) DESC,
       |        c.c_id) AS rn
       |    FROM n a CROSS JOIN c) WHERE rn = 1),
       |pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM assign a JOIN assign b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
       |  JOIN n x ON x.vec_id = a.vec_id JOIN n y ON y.vec_id = b.vec_id
       |  WHERE list_sum(list_transform(generate_series(1, 64), i -> x.e[i] * y.e[i])) / (x.nrm * y.nrm) >= 0.98),
       |nodes AS (SELECT DISTINCT v AS vec_id FROM (SELECT va AS v FROM pairs UNION SELECT vb FROM pairs)),
       |edges AS (SELECT va AS src, vb AS dst FROM pairs UNION SELECT vb, va FROM pairs),
       |reach(node, comp) AS (
       |  SELECT vec_id, vec_id FROM nodes
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
       |lab AS (SELECT node AS vec_id, min(comp) AS grp FROM reach GROUP BY node),
       |ranked AS (
       |  SELECT l.vec_id, l.grp,
       |    row_number() OVER (PARTITION BY l.grp ORDER BY a.ccos ASC, l.vec_id ASC) AS kr
       |  FROM lab l JOIN assign a ON a.vec_id = l.vec_id)
       |SELECT a.vec_id, a.c_id,
       |  coalesce(r.grp, a.vec_id) AS grp,
       |  (r.vec_id IS NULL OR r.kr = 1) AS keep
       |FROM assign a LEFT JOIN ranked r ON r.vec_id = a.vec_id""".stripMargin
  }

  /** Connected components over an undirected edge set (doc_a, doc_b) →
    * (doc_id, comp) where comp is the component's minimum member. Hybrid,
    * like GraphFrames' CC with its broadcastThreshold endgame:
    *
    *  - Scale path: distributed min-label propagation with pointer jumping
    *    (comp ← comp[comp]) — O(log diameter) rounds of one join + one
    *    min-agg, convergence checked by a scalar label-sum aggregate, never
    *    any per-component driver work. Each round localCheckpoints: an
    *    iteration's plan embeds the previous one, so without lineage
    *    truncation the logical plan doubles per round (OOMed at sf0.1) —
    *    same reason GraphX/ALS checkpoint their loops.
    *  - Endgame: once the edge set is at-or-below `localThreshold` (LSH
    *    already bounded it to verified near-dup pairs, so at small SF this
    *    hits immediately), one single-task executor-side union-find
    *    finishes the job — the distributed loop's per-round fixed cost
    *    (plan + codegen + 2 actions) dwarfs a linear α(n) scan there.
    *
    * The loop also re-checks the threshold each round: components only
    * condense, so a big graph falls through to the endgame as soon as its
    * active frontier shrinks under the bound. */
  private[graft] def connectedComponents(
      s: SparkSession, pairs: DataFrame,
      localThreshold: Long = 4000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import s.implicits._

    def unionFindLocal(df: DataFrame): DataFrame =
      df.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = new java.util.HashMap[Long, Long]()
          def find(x0: Long): Long = {
            var x = x0
            var p = parent.getOrDefault(x, x)
            while (p != x) { // path halving
              val gp = parent.getOrDefault(p, p)
              parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
            }
            x
          }
          it.foreach { case (a, b) =>
            parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
            val ra = find(a); val rb = find(b)
            // union by min so the root IS the component minimum
            if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
          }
          val keys = parent.keySet().toArray(Array.empty[java.lang.Long])
          keys.iterator.map(k => (k.longValue(), find(k.longValue())))
        }
        .toDF("doc_id", "comp")

    // Materialize the edge frame ONCE before branching: the threshold
    // count otherwise re-runs the whole upstream LSH candidate pipeline
    // for the count AND again for whichever path wins (Bench.cleanup
    // unpersists between queries).
    val pairsC = pairs.persist(MEMORY_AND_DISK)
    if (pairsC.count() <= localThreshold) unionFindLocal(pairsC)
    else {
      val edges = pairsC.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairsC.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .persist(MEMORY_AND_DISK)
      var labels = pairsC
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
        .select(col("doc_id"), col("doc_id").as("comp"))
        .localCheckpoint(true)
      var sum = labels.agg(org.apache.spark.sql.functions.sum(col("comp"))).head.getLong(0)
      var converged = false
      var rounds = 0
      while (!converged && rounds < 50) { // cap >> any realistic log-diameter
        val prop = edges
          .join(labels.select(col("doc_id").as("src"), col("comp")), "src")
          .select(col("dst").as("doc_id"), col("comp"))
        val jump = labels.select(col("doc_id").as("j_id"), col("comp").as("j_comp"))
          .join(labels.select(col("doc_id").as("p_id"), col("comp").as("p_comp")),
            col("j_comp") === col("p_id"))
          .select(col("j_id").as("doc_id"), col("p_comp").as("comp"))
        val next = labels.unionByName(prop).unionByName(jump)
          .groupBy(col("doc_id")).agg(min(col("comp")).as("comp"))
          .localCheckpoint(true)
        val nextSum = next.agg(org.apache.spark.sql.functions.sum(col("comp"))).head.getLong(0)
        labels = next
        converged = nextSum == sum // min-label sums strictly fall until fixpoint
        sum = nextSum
        rounds += 1
        if (!converged) {
          // endgame switch: project the residual graph onto current labels
          // (edges inside a settled component collapse to self-loops and
          // drop); if what's left is small, finish it locally and compose
          val resid = edges
            .join(labels.select(col("doc_id").as("src"), col("comp").as("ca")), "src")
            .join(labels.select(col("doc_id").as("dst"), col("comp").as("cb")), "dst")
            .filter(col("ca") =!= col("cb"))
            .select(col("ca").as("doc_a"), col("cb").as("doc_b"))
            .distinct()
            .localCheckpoint(true)
          if (resid.count() <= localThreshold) {
            val root = unionFindLocal(resid)
              .select(col("doc_id").as("comp"), col("comp").as("root"))
            return labels
              .join(root, Seq("comp"), "left")
              .select(col("doc_id"), coalesce(col("root"), col("comp")).as("comp"))
          }
        }
      }
      labels
    }
  }

  /** Capped-bucket pair emission — the shared scale guard for every banded
    * dedup lane (the round-13/14 phash/substring cap discipline applied
    * family-wide): rank each bucket's members by doc_id (a SPILLABLE
    * window — no bucket is ever materialized as a single row, unlike the
    * old collect_list posting lists), keep the [[bandBucketCap]] lowest,
    * then a keyed self-join of the capped frame emits ordered
    * (doc_a < doc_b) pairs — at most cap²/2 per bucket no matter how
    * degenerate the key (a corpus-wide boilerplate shingle, a flat-class
    * band value every doc shares). `rows` must be unique per
    * (keys, doc_id); `payload` columns ride along as <p>_a / <p>_b.
    * Output is one row per (bucket, pair) — callers distinct() or
    * aggregate. The capped frame persists because both join sides read
    * it (Bench.cleanup unpersists). Every caller's oracle replays the cap
    * verbatim as the same row_number-over-bucket filter, so capping is a
    * shared semantics, not silent truncation. */
  private[graft] def cappedBucketPairs(rows: DataFrame, keys: Seq[String],
      payload: Seq[String] = Nil, keepKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capped = rows
      .withColumn("rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("doc_id"))))
      .filter(col("rn") <= bandBucketCap)
      .drop("rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(sfx: String) = capped.select(
      keys.map(col) ++ (("doc_id" +: payload).map(c =>
        col(c).as(if (c == "doc_id") s"doc_$sfx" else s"${c}_$sfx"))): _*)
    val joined = side("a").join(side("b"), keys)
      .filter(col("doc_a") < col("doc_b"))
    // keys are dropped by default so multi-band callers can distinct()
    // pairs colliding in several buckets; keepKeys serves single-key
    // callers whose bucket value is part of the output
    if (keepKeys) joined else joined.drop(keys: _*)
  }

  /** SimHash near-dup pairs (doc_a, doc_b, ham ≤ 3) — the q_dedup_simhash
    * body, shared with q_dedup_cluster as its edge set. ONE fused SimHash60
    * pass per document (one md5 per token, 4 bits per hex char, strict
    * per-bit majority) — the round-1 shape exploded tokens into 60 bit-sum
    * aggregates, paying a shuffle plus 60 interpreted aggregate updates
    * per token for the same signature. */
  private[graft] def simhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsFrom(corpus(s, dir))

  /** The same pair derivation off an arbitrary (doc_id, lang, text) frame —
    * split out so BucketCapSpec can drive it with a planted flat class
    * wider than the cap. */
  private[graft] def simhashPairsFrom(docs: DataFrame): DataFrame = {
    val sig = docs.select(
      col("doc_id"), col("lang"),
      // fenced like `hs` above: 5 downstream references (4 band shifts +
      // the signature column itself)
      graft.plans.OptimizerBarrier.once(
        graft.functions.TextHashExpressions.simHash(split(col("text"), " "))).as("sig")
    )
    val banded = sig.select(
      col("doc_id"), col("lang"), col("sig"),
      explode(array((0 to 3).map(b =>
        struct(lit(b).as("b"), shiftright(col("sig"), b * 15).bitwiseAND(lit(32767L)).as("bv"))): _*)).as("band")
    ).select(col("doc_id"), col("lang"), col("sig"), col("band.b").as("b"), col("band.bv").as("bv"))
    // capped band buckets, carrying each doc's signature to both pair
    // sides (pairs colliding in several bands dedup in the distinct)
    cappedBucketPairs(banded, Seq("lang", "b", "bv"), payload = Seq("sig"))
      .distinct()
      .withColumn("ham", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("ham") <= 3)
      .select(col("doc_a"), col("doc_b"), col("ham"))
  }

  /** q_cluster_stats oracle: the clusterSql transitive closure rolled up
    * to a size histogram, plus the singleton row by difference against
    * the documents total. */
  private lazy val clusterStatsSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($simhashSql)),
       |nodes AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs)),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, comp) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
       |lab AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node),
       |cl AS (SELECT cluster_id, count(*)::BIGINT AS csize FROM lab GROUP BY 1)
       |SELECT csize AS cluster_size, count(*)::BIGINT AS n_clusters,
       |  (csize * count(*))::BIGINT AS n_docs, min(cluster_id) AS min_cluster_id
       |FROM cl GROUP BY csize
       |UNION ALL
       |SELECT 1, t.n - s.c, t.n - s.c, NULL::BIGINT FROM
       |  (SELECT count(*)::BIGINT AS n FROM documents) t,
       |  (SELECT coalesce(sum(csize), 0)::BIGINT AS c FROM cl) s""".stripMargin

  /** Cluster oracle: transitive closure of the SimHash edge set via a
    * recursive CTE carrying every reachable label; min per node ≡ the
    * component minimum the Spark propagation converges to. */
  private lazy val clusterSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($simhashSql)),
       |nodes AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs)),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, comp) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
       |lab AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS csize,
       |  doc_id = cluster_id AS is_rep
       |FROM lab""".stripMargin

  /** embeddings ∪ perturbed copy (vec_id+1000000, dim 1 + 0.1), with norm.
    * `e` is fenced: the banding projection references it 128 times (one per
    * hyperplane), and without the barrier CollapseProject re-inlines the
    * interpreted transform into every reference (~128× the parse cost). */
  private[graft] def embedCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir).embeddings
      .select(
        col("vec_id"), col("label"),
        graft.plans.OptimizerBarrier.once(transform(col("embedding"), x => x.cast("double"))).as("e"))
    val perturbed = Tables(s, dir).embeddings.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      col("label"),
      graft.plans.OptimizerBarrier.once(transform(
        sequence(lit(1), lit(64)),
        i => element_at(col("embedding"), i).cast("double") + when(i === 1, 0.1).otherwise(0.0)
      )).as("e")
    )
    base.unionByName(perturbed)
      .withColumn("nrm", sqrt(aggregate(transform(col("e"), x => x * x), lit(0.0), (a, x) => a + x)))
  }

  /** LSH candidate pairs for the embed corpus `n(vec_id, label, e)`: 8-bit
    * sign signature per band (one fused SrpBands kernel — 128 separate
    * dot-product trees drowned the optimizer), same-label bucket join,
    * distinct pairs. */
  private[graft] def embedCandidates(n: DataFrame): DataFrame = {
    val planes = SimilarityQueries.planeWeights(embedBands * embedPlanesPerBand)
    // capped band buckets off ONE SRP pass: the persist inside
    // cappedBucketPairs keeps the second join side from re-evaluating the
    // fused kernel, and a flat-embedding class collapsing into one
    // (label, band, value) bucket costs ≤ cap²/2 pairs
    val banded = n.select(
      col("vec_id").as("doc_id"), col("label"),
      posexplode(graft.functions.VectorExpressions.srpBands(col("e"), planes, embedPlanesPerBand))
    ).toDF("doc_id", "label", "b", "bv")
    cappedBucketPairs(banded, Seq("label", "b", "bv"))
      .toDF("vec_a", "vec_b")
      .distinct()
  }

  /** Embed-dedup oracle: identical LSH banding with the plane weights
    * inlined as literals (see SimilarityQueries.planeWeightsSql). */
  private[queries] lazy val dedupEmbedSql: String = {
    val nPlanes = embedBands * embedPlanesPerBand
    s"""WITH corpus AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, label,
       |    list_transform(generate_series(1, 64),
       |      i -> embedding[i]::DOUBLE + (CASE WHEN i = 1 THEN 0.1 ELSE 0.0 END))
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM corpus),
       |${SimilarityQueries.planeWeightsSql(nPlanes)},
       |bandv AS (
       |  SELECT c.vec_id, c.label, p.p // $embedPlanesPerBand AS b,
       |    sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * p.w[i])) > 0
       |        THEN (1 << (p.p % $embedPlanesPerBand)) ELSE 0 END) AS bv
       |  FROM n c CROSS JOIN planes p
       |  GROUP BY c.vec_id, c.label, p.p // $embedPlanesPerBand),
       |bandvcap AS (SELECT vec_id, label, b, bv FROM (
       |  SELECT vec_id, label, b, bv,
       |    row_number() OVER (PARTITION BY label, b, bv ORDER BY vec_id) AS rn
       |  FROM bandv) WHERE rn <= $bandBucketCap),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bandvcap a JOIN bandvcap b
       |    ON a.label = b.label AND a.b = b.b AND a.bv = b.bv AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, round(cos, 4) AS cos FROM (
       |  SELECT c.vec_a, c.vec_b,
       |    list_sum(list_transform(generate_series(1, 64), i -> x.e[i] * y.e[i])) / (x.nrm * y.nrm) AS cos
       |  FROM cands c JOIN n x ON x.vec_id = c.vec_a JOIN n y ON y.vec_id = c.vec_b)
       |WHERE cos >= 0.98""".stripMargin
  }

  /** SimHash oracle SQL — the 60 per-bit majority sums are generated
    * programmatically to mirror the Spark 60-agg single-pass shape (one
    * md5 per token; 4 bits per hex char). */
  private[graft] lazy val simhashSql: String = {
    def hexval(i: Int) =
      s"(CASE WHEN ascii(md5(tok)[${(i - 1) / 4 + 1}]) < 97 THEN ascii(md5(tok)[${(i - 1) / 4 + 1}]) - 48 ELSE ascii(md5(tok)[${(i - 1) / 4 + 1}]) - 87 END)"
    val sums = (1 to 60)
      .map(i => s"sum((${hexval(i)} >> ${(i - 1) % 4}) & 1) AS o$i")
      .mkString(",\n")
    val sigTerms = (1 to 60)
      .map(i => s"(CASE WHEN 2 * o$i > n THEN ${1L << (i - 1)}::BIGINT ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH $corpusSql,
       |tokb AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM corpus),
       |bits AS (SELECT doc_id, lang, $sums, count(*) AS n FROM tokb GROUP BY doc_id, lang),
       |sigc AS (SELECT doc_id, lang, $sigTerms AS sig FROM bits),
       |banded AS (
       |  SELECT doc_id, lang, sig, b, (sig >> (b * 15)) & 32767 AS bv
       |  FROM sigc CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) g),
       |bandcap AS (SELECT doc_id, lang, sig, b, bv FROM (
       |  SELECT doc_id, lang, sig, b, bv,
       |    row_number() OVER (PARTITION BY lang, b, bv ORDER BY doc_id) AS rn
       |  FROM banded) WHERE rn <= $bandBucketCap),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM bandcap a JOIN bandcap b
       |    ON a.lang = b.lang AND a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, ham FROM (
       |  SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS ham FROM cands)
       |WHERE ham <= 3""".stripMargin
  }
}
