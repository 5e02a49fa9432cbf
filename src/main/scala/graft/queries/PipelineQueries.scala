package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{AggOps, Dedup, Joins, Multimodal, QualityModel, Similarity, SkewOps, Splits, TextOps}

/** LLM-training-data pipeline operators (dedup / similarity / text
  * analysis) exercised on the `documents` and `embeddings` tables.
  * Oracles verify the ones whose math is reproducible in DuckDB; the
  * murmur-hash-based ones (MinHash, SimHash) are self-deterministic and get
  * rows-only checks.
  */
object PipelineQueries {

  /** documents plus synthetic exact duplicates (every 10th doc re-inserted
    * under a shifted id) so exact-dedup has real work to do.
    */
  private def corpusWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000))
  }

  val all: Seq[Query] = Seq(

    // --- Exact dedup: hash-aggregate on content, keep-min-key survivor.
    Query(
      "q25_dedup_exact",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0)
        |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |  count(*) AS dup_count
        |FROM corpus GROUP BY text
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.exact(corpusWithDups(s, d), Seq("text"), "doc_id")
        .select("doc_id", "dup_count")
        .orderBy("doc_id")
    },

    // --- Digest-path exact dedup: the 100 TB form of q25 — the shuffle
    //     carries a 192-bit content digest, never the documents. The
    //     oracle groups on the raw text; results agree unless md5+xxhash64
    //     collide (2^-192).
    Query(
      "q64_dedup_digest",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0)
        |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |  count(*) AS dup_count
        |FROM corpus GROUP BY text
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.exactByDigest(corpusWithDups(s, d), Seq("text"), "doc_id")
        .orderBy("doc_id")
    },

    // --- Text quality metrics, all codegen'd column math.
    Query(
      "q26_text_quality",
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
        |    AS n_tokens,
        |  round(CAST(length(text) - length(regexp_replace(text,
        |      '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text), 4)
        |    AS punct_ratio,
        |  round(list_aggregate(list_transform(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      t -> CAST(length(t) AS BIGINT)), 'avg'), 4)
        |    AS mean_word_len,
        |  round(CAST(len(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      t -> list_contains(['the', 'a', 'and', 'of', 'to', 'in',
        |        'is', 'that'], t))) AS DOUBLE)
        |    / len(string_split_regex(lower(trim(text)), '\s+')), 4)
        |    AS stopword_ratio
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val en = TextOps.Languages.all.head._2
      Tables.load(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          round(TextOps.punctRatio(col("text")), 4).as("punct_ratio"),
          round(TextOps.meanWordLength(col("text")), 4).as("mean_word_len"),
          round(TextOps.stopwordRatio(col("text"), en), 4)
            .as("stopword_ratio"))
        .orderBy("doc_id")
    },

    // --- Language-ID heuristic (distinct-stopword-hit argmax).
    Query(
      "q27_langid",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')) tk
        |  FROM documents WHERE doc_id < 200),
        |s AS (
        |  SELECT doc_id,
        |    len(list_intersect(tk, ['the','a','and','of','to','in','is','that'])) s_en,
        |    len(list_intersect(tk, ['der','die','das','und','ist','nicht','ein'])) s_de,
        |    len(list_intersect(tk, ['el','los','que','y','en','un','una','por'])) s_es,
        |    len(list_intersect(tk, ['le','les','et','est','une','dans','pour'])) s_fr
        |  FROM t)
        |SELECT doc_id, CASE
        |  WHEN s_en >= greatest(s_de, s_es, s_fr) AND s_en > 0 THEN 'en'
        |  WHEN s_de >= greatest(s_es, s_fr) AND s_de > 0 THEN 'de'
        |  WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
        |  WHEN s_fr > 0 THEN 'fr'
        |  ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // --- BPE-ish subword counting (GPT-2-style pre-tokenizer shape).
    Query(
      "q44_subword_counts",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(trim(text)),
        |    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_subwords
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          TextOps.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    },

    // --- Order-sensitive polynomial document fingerprint.
    Query(
      "q28_fingerprint",
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''),
        |      x -> CAST(ord(x) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // --- Corpus-wide fingerprint rollup: same kernel as q28 but over the
    //     WHOLE corpus, reduced to one checksum row — exists so the bench
    //     sees the fingerprint kernel at corpus scale (q28's 100-doc slice
    //     hides a per-character cost).
    Query(
      "q66_fingerprint_corpus",
      """SELECT count(*) AS docs,
        |  count(DISTINCT fp) AS distinct_fp,
        |  CAST(sum(fp) AS BIGINT) AS fp_sum
        |FROM (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''),
        |      x -> CAST(ord(x) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |  FROM documents WHERE text IS NOT NULL)""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(TextOps.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("docs"),
          count_distinct(col("fp")).as("distinct_fp"),
          sum(col("fp")).as("fp_sum"))
    },

    // --- Brute-force exact n-gram Jaccard (the O(n²) baseline; bounded).
    Query(
      "q29_ngram_jaccard",
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(l) AS sh FROM (
        |    SELECT doc_id, tk,
        |      list_transform(range(len(tk) - 2),
        |        i -> concat_ws(' ', tk[i+1], tk[i+2], tk[i+3])) AS l
        |    FROM (SELECT doc_id,
        |            string_split_regex(lower(trim(text)), '\s+') tk
        |          FROM documents WHERE doc_id < 25)))
        |SELECT a.doc_id AS key_a, b.doc_id AS key_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |ORDER BY key_a, key_b""".stripMargin) { (s, d) =>
      Dedup.ngramJaccardPairs(
          Tables.load(s, d, "documents").filter(col("doc_id") < 25),
          "text", "doc_id", n = 3)
        .select(col("key_a"), col("key_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("key_a", "key_b")
    },

    // --- MinHash+LSH near-dup pairs on the synthetic-dup corpus: the
    //     planted duplicates must surface. Murmur-based → rows-only.
    Query.noOracle("q30_minhash_neardup") { (s, d) =>
      Dedup.minhashNearDuplicates(corpusWithDups(s, d), "text", "doc_id",
          numHashes = 64, bands = 16, threshold = 0.9)
        .select(col("key_a"), col("key_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("key_a", "key_b")
    },

    // --- SimHash values + hamming distance of the planted duplicate pairs
    //     (distance 0 for exact dups). xxhash64-vote-based → rows-only.
    Query.noOracle("q31_simhash") { (s, d) =>
      val docs = Tables.load(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
      docs.orderBy("doc_id")
    },

    // --- Brute-force cosine top-k ANN baseline.
    Query(
      "q32_cosine_topk",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e
        |      WHERE vec_id IN (0, 1, 2)),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qv, e.v) AS c
        |  FROM q, e WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, c,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY c DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
        |  round(c, 4) AS cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      Similarity.cosineTopK(emb,
          emb.filter(col("vec_id").isin(0, 1, 2)), "embedding", "vec_id",
          k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // --- LSH-bucketed neighbor pairs (scale path); seeded hyperplanes are
    //     driver-side literals → self-deterministic, rows-only.
    Query.noOracle("q33_lsh_neighbors") { (s, d) =>
      Similarity.lshNeighborPairs(Tables.load(s, d, "embeddings"),
          "embedding", "vec_id", dim = 64, numBits = 4, threshold = 0.15)
        .select(col("key_a"), col("key_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("key_a", "key_b")
    },

    // --- Normalized ("fuzzy-exact") dedup: case/punct/whitespace-folded
    //     text as the dedup key — the standard first pass before MinHash.
    Query(
      "q42_dedup_normalized",
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, count(*) AS dup_count
        |FROM n GROUP BY norm
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[\\p{Punct}]", ""), "\\s+", " "))
      // digest path: the normalized TEXT never rides the shuffle — only
      // its 192-bit digest does (same scale rationale as q64)
      Dedup.exactByDigest(
          Tables.load(s, d, "documents").withColumn("norm", norm),
          Seq("norm"), "doc_id")
        .orderBy("doc_id")
    },

    // --- Quality filter: the decision layer over the text metrics
    //     (keep = long enough, low punct, some stopwords).
    Query(
      "q43_quality_filter",
      """WITH m AS (
        |  SELECT doc_id,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]',
        |      '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)),
        |      '\s+'), t -> list_contains(['the', 'a', 'and', 'of', 'to',
        |      'in', 'is', 'that'], t))) AS DOUBLE)
        |      / len(string_split_regex(lower(trim(text)), '\s+'))
        |      AS stopword_ratio
        |  FROM documents)
        |SELECT CASE WHEN n_tokens >= 20 AND punct_ratio < 0.1
        |         AND stopword_ratio > 0.02 THEN 'keep' ELSE 'drop'
        |       END AS verdict,
        |  count(*) AS n
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val en = TextOps.Languages.all.head._2
      Tables.load(s, d, "documents")
        .select(
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.punctRatio(col("text")).as("punct_ratio"),
          TextOps.stopwordRatio(col("text"), en).as("stopword_ratio"))
        .select(when(col("n_tokens") >= 20 && col("punct_ratio") < 0.1
            && col("stopword_ratio") > 0.02, "keep").otherwise("drop")
          .as("verdict"))
        .groupBy("verdict").agg(count(lit(1)).as("n"))
        .orderBy("verdict")
    },

    // --- SimHash near-dup pairing at scale (chunk banding + pigeonhole);
    //     hash-based → rows-only (planted dups guarantee rows). 64-bit
    //     fingerprints by default: the pairs are only the true
    //     near-identical-token-set population, with no 32-bit birthday
    //     coincidences. Bounded to a corpus slice: this synthetic corpus
    //     draws from a tiny shared vocabulary, so near-identical token
    //     sets are the common case —
    //     the full-corpus result is quadratic by construction, which says
    //     nothing about the operator's scaling on real (diverse) text.
    Query.noOracle("q40_simhash_pairs") { (s, d) =>
      Dedup.simhashNearDuplicates(
          corpusWithDups(s, d).filter(col("doc_id") % 10 === 0),
          "text", "doc_id", maxDistance = 2)
        .orderBy("key_a", "key_b")
    },

    // --- IVF ANN with full probe = exhaustive search, so it shares the
    //     brute-force oracle (recall knob exercised in SimilaritySpec).
    Query(
      "q41_ivf_topk",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e
        |      WHERE vec_id IN (0, 1, 2)),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qv, e.v) AS c
        |  FROM q, e WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, c,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY c DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
        |  round(c, 4) AS cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id").isin(0, 1, 2)),
          "embedding", "vec_id", k = 5, nlist = 16, nprobe = 16)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // --- q41 with the k-means-refined index: two Lloyd rounds train the
    //     IVF centroids (assignment = argmin hash agg, means = posexplode
    //     avg — both map-side-combined), then the same full-probe search.
    //     Full probe keeps the result exhaustive, so the oracle is exact
    //     even though FP-sum ordering jitters the centroids themselves;
    //     SimilaritySpec covers the recall gain at partial probe.
    Query(
      "q71_ivf_kmeans",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e
        |      WHERE vec_id IN (0, 1, 2)),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qv, e.v) AS c
        |  FROM q, e WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, c,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY c DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
        |  round(c, 4) AS cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id").isin(0, 1, 2)),
          "embedding", "vec_id", k = 5, nlist = 16, nprobe = 16,
          kmeansIters = 2)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // --- Exact all-pairs cosine ≥ threshold on a bounded slice — the
    //     brute-force baseline the LSH (q33) and IVF (q41) paths
    //     approximate, and the only embedding-similarity variant whose
    //     math DuckDB can replay exactly.
    Query(
      "q49_cosine_pairs",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS key_a, b.vec_id AS key_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) >= 0.3
        |ORDER BY key_a, key_b""".stripMargin) { (s, d) =>
      Similarity.cosinePairs(
          Tables.load(s, d, "embeddings").filter(col("vec_id") < 200),
          "embedding", "vec_id", threshold = 0.3)
        .select(col("key_a"), col("key_b"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("key_a", "key_b")
    },

    // --- Two-phase salted aggregation (SkewOps): result is identical to a
    //     plain GROUP BY — the salt only changes the shuffle fan-out — so
    //     the plain SQL is the oracle. Guards the hot-key reducer path.
    //     The value is summed as DECIMAL(18,6): decimal addition is exact
    //     and associative, so the salted two-phase addition order cannot
    //     flip a rounded digit vs DuckDB's sequential sum (double sums at a
    //     rounding boundary could, making the hash compare flaky).
    Query(
      "q48_salted_agg",
      """SELECT event_type,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
        |    AS sum_value,
        |  count(*) AS cnt,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |        / count(*), 4) AS avg_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      SkewOps.saltedAggregate(
          Tables.load(s, d, "events")
            .withColumn("_v", col("value").cast("decimal(18,6)")),
          Seq("event_type"), saltBuckets = 32,
          partialAggs = Seq(sum("_v").as("_s"), count(lit(1)).as("_c")),
          finalAggs = Seq(sum("_s").as("_sum"), sum("_c").as("cnt")))
        .select(col("event_type"),
          round(col("_sum").cast("double"), 2).as("sum_value"),
          col("cnt"),
          round(col("_sum").cast("double") / col("cnt"), 4).as("avg_value"))
        .orderBy("event_type")
    },

    // --- Distributed Welford (custom Aggregator with Chan merge) vs the
    //     oracle's per-position avg/stddev_pop over unnested vectors.
    Query(
      "q34_welford_stats",
      """SELECT CAST(i - 1 AS INT) AS pos,
        |  round(avg(v), 6) AS mean,
        |  round(coalesce(stddev_pop(v), 0), 6) AS stdev
        |FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
        |        generate_subscripts(embedding, 1) AS i
        |      FROM embeddings)
        |GROUP BY i ORDER BY pos""".stripMargin) { (s, d) =>
      import graft.functions.WelfordAggregator
      val agg = Tables.load(s, d, "embeddings")
        .agg(WelfordAggregator.of(col("embedding")).as("w"))
        .select(posexplode(arrays_zip(col("w.mean"), col("w.stdev"))))
      agg.select(col("pos").cast("int").as("pos"),
          round(col("col.mean"), 6).as("mean"),
          round(col("col.stdev"), 6).as("stdev"))
        .orderBy("pos")
    },

    // --- Duplicate CLUSTERS, not just pairs: exact unigram-Jaccard pairs
    //     (SQL-replayable, unlike the LSH candidates) → distributed
    //     min-label connected components. The oracle replays the closure
    //     with a recursive CTE. The slice holds one ~124-vertex dense
    //     component, so multi-hop propagation is actually exercised.
    Query(
      "q51_dup_components",
      """WITH RECURSIVE
        |sh AS (SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''))
        |    AS sh
        |  FROM documents WHERE doc_id < 200),
        |pairs AS (
        |  SELECT a.doc_id a, b.doc_id b FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(v, u) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
        |SELECT v AS key, CAST(least(v, min(u)) AS BIGINT) AS component
        |FROM reach GROUP BY v ORDER BY key""".stripMargin) { (s, d) =>
      val pairs = Dedup.ngramJaccardPairs(
        Tables.load(s, d, "documents").filter(col("doc_id") < 200),
        "text", "doc_id", n = 1, threshold = 0.8)
      Dedup.connectedComponents(pairs).orderBy("key")
    },

    // --- Engine-independent deterministic exact-n sample (md5 content
    //     digest order): fully hash-checkable, unlike seeded rand (q19).
    Query(
      "q52_det_sample",
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    md5('graft' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents ORDER BY h, doc_id LIMIT 40)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Splits.deterministicSample(Tables.load(s, d, "documents"),
          n = 40, key = "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // --- Exact per-stratum sample by the same digest: class-balanced
    //     subset selection, one shuffle, strata in parallel.
    Query(
      "q53_stratified_sample",
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) <= 12
        |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      Splits.stratifiedSample(Tables.load(s, d, "documents"),
          stratumCol = "lang", perStratum = 12, key = "doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    },

    // --- Corpus term statistics: document frequency + smooth idf over the
    //     whole corpus, top-30 terms.
    Query(
      "q54_term_stats",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')))
        |    AS term
        |  FROM documents),
        |d AS (SELECT term, count(*) AS doc_freq FROM tok GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT term, doc_freq,
        |  round(ln((n + 1.0) / (doc_freq + 1.0)) + 1.0, 6) AS idf
        |FROM d, n ORDER BY doc_freq DESC, term LIMIT 30""".stripMargin) {
      (s, d) =>
      TextOps.termDocFrequencies(Tables.load(s, d, "documents"),
          "text", "doc_id")
        .select(col("term"), col("doc_freq"), round(col("idf"), 6).as("idf"))
        .orderBy(col("doc_freq").desc, col("term"))
        .limit(30)
    },

    // --- Corpus bigram statistics (top-30 by document frequency):
    //     n-gram language statistics over the shingle machinery, the
    //     bigram companion to q54's unigram doc frequencies.
    Query(
      "q65_bigram_stats",
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(l) AS sh FROM (
        |    SELECT doc_id, tk, list_transform(range(len(tk) - 1),
        |        i -> concat_ws(' ', tk[i+1], tk[i+2])) AS l
        |    FROM (SELECT doc_id, list_filter(string_split_regex(
        |            lower(trim(text)), '\s+'), t -> t <> '') tk
        |          FROM documents WHERE len(list_filter(string_split_regex(
        |            lower(trim(text)), '\s+'), t -> t <> '')) >= 2))),
        |g AS (SELECT doc_id, unnest(sh) AS bigram FROM sh)
        |SELECT bigram, count(*) AS doc_freq
        |FROM g GROUP BY bigram
        |ORDER BY doc_freq DESC, bigram LIMIT 30""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          // shinglesFast: JVM kernel, not the interpreted-HOF shingles() —
          // this explode runs over the whole corpus (was the suite's
          // slowest query on the HOF path)
          explode(Dedup.shinglesFast(col("text"), n = 2)).as("bigram"))
        // shingles() emits the whole doc as one "shingle" when it has
        // fewer than n tokens — exclude those single-token pseudo-bigrams
        // to match the oracle's len(tk) >= 2 restriction
        .filter(col("bigram").contains(" "))
        .groupBy("bigram").agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("bigram"))
        .limit(30)
    },

    // --- As-of join (latest purchase state as of each view event) against
    //     DuckDB's native ASOF LEFT JOIN. Left-outer: views before a
    //     user's first purchase keep a null asof_value.
    Query(
      "q55_asof_join",
      """SELECT l.event_id,
        |  strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  CAST(l.user_id AS BIGINT) AS user_id,
        |  round(r.value, 4) AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      Joins.asOf(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          keyCols = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightVals = Seq("value"))
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("user_id"),
          round(col("asof_value"), 4).as("asof_value"))
        .orderBy("event_id")
    },

    // --- q55 with a match-tolerance horizon (pandas merge_asof
    //     tolerance= parity): purchases more than 6 hours older than the
    //     view decline — stale enrichment nulls out instead of riding
    //     along. The oracle replays it as DuckDB's ASOF LEFT JOIN with
    //     the horizon applied post-pick — equivalent for the backward
    //     direction, because the asof pick IS the max r.ts <= l.ts and
    //     backward distance only grows for earlier candidates, so
    //     "pick then vet" = "vet then pick".
    Query(
      "q76_asof_tolerance",
      """SELECT l.event_id,
        |  CAST(l.user_id AS BIGINT) AS user_id,
        |  CASE WHEN r.ts IS NOT NULL
        |         AND epoch_us(l.ts) - epoch_us(r.ts) <= 21600000000
        |    THEN round(r.value, 4) END AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      Joins.asOf(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          keyCols = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightVals = Seq("value"), prefix = "asof_",
          direction = "backward", tolerance = Some(21600000000L))
        .select(col("event_id"), col("user_id"),
          round(col("asof_value"), 4).as("asof_value"))
        .orderBy("event_id")
    },

    // --- Symmetric int8 scalar quantization of embeddings (the standard
    //     vector-index compression). Verified via exact integer checksums
    //     (the checker can't sort list columns, and integers dodge float
    //     compare entirely): component sum, max |q|, dimension.
    Query(
      "q56_quantize_int8",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings WHERE vec_id < 100),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |q AS (SELECT vec_id, scale,
        |        list_transform(v, x -> CAST(round(127 * x / scale) AS INT))
        |          AS qv
        |      FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
        |  CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'max')
        |    AS INT) AS q_amax,
        |  CAST(len(qv) AS INT) AS dim
        |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
      import graft.functions.VectorFunctions
      Tables.load(s, d, "embeddings").filter(col("vec_id") < 100)
        .withColumn("scale", VectorFunctions.maxAbs(col("embedding")))
        .withColumn("qv",
          VectorFunctions.quantizeInt8(col("embedding"), col("scale")))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_max(transform(col("qv"), x => abs(x))).as("q_amax"),
          size(col("qv")).as("dim"))
        .orderBy("vec_id")
    },

    // --- Range join (clicks within an hour after a purchase), via
    //     interval binning → hash equi-join; the oracle replays it as a
    //     plain inequality join, which DuckDB can afford at this scale.
    Query(
      "q57_range_join",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(c.ts) >= epoch_ms(p.ts)
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts) + 3600000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("at_ms"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("start_ms"),
          (unix_millis(col("ts")) + 3600000L).as("end_ms"),
          col("event_id").as("purchase_id"))
      Joins.rangeJoin(clicks, purchases, Seq("user_id"),
          leftAt = "at_ms", rightStart = "start_ms", rightEnd = "end_ms",
          binWidth = 3600000L)
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- LEFT-OUTER range join: every click, with its containing
    //     purchase window OR nulls — "events with no matching window" is
    //     the everyday complement of q57 and needs a hand-rolled
    //     anti-join without the operator. Unmatched ids coalesce to -1
    //     on BOTH sides (a nullable int64 turns to float in the
    //     checker's pandas frame otherwise).
    Query(
      "q72_range_join_outer",
      """SELECT c.event_id AS click_id,
        |  COALESCE(p.event_id, -1) AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(c.ts) >= epoch_ms(p.ts)
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts) + 3600000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("at_ms"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("start_ms"),
          (unix_millis(col("ts")) + 3600000L).as("end_ms"),
          col("event_id").as("purchase_id"))
      Joins.rangeJoinLeftOuter(clicks, purchases, Seq("user_id"),
          "at_ms", "start_ms", "end_ms", binWidth = 3600000L)
        .select(col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- q72's LEFT JOIN written the way a plain-SQL user would: a raw
    //     left-outer theta-join, NO call to Joins.rangeJoinLeftOuter.
    //     Vanilla Spark plans it as BroadcastNestedLoopJoin; the
    //     RangeJoinRewrite containment branch rewrites LEFT OUTER when the
    //     point is on the preserved side (the point side is never
    //     exploded, so unmatched clicks surface exactly once), keeping
    //     the exact bounds in the join condition instead of a filter that
    //     would eat the null rows. RangeJoinRewriteSpec pins plan + nulls.
    Query(
      "q74_range_outer_sql",
      """SELECT c.event_id AS click_id,
        |  COALESCE(p.event_id, -1) AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(c.ts) >= epoch_ms(p.ts)
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts) + 3600000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("at_ms"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          unix_millis(col("ts")).as("start_ms"),
          col("event_id").as("purchase_id"))
      clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("at_ms") >= col("start_ms") &&
            col("at_ms") < col("start_ms") + 3600000L,
          "left_outer")
        .select(col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- FULL-outer range join: q72 plus the other side — every click
    //     AND every purchase window survives; unmatched rows of either
    //     side null-extend. The interval side is exploded per bin, so
    //     unmatched purchases emit exactly once via a pre-explode row-id
    //     count window (see Joins.rangeJoinFullOuter). USING-style key:
    //     ONE user_id column, coalesced across sides.
    Query(
      "q77_range_join_full",
      """SELECT CAST(COALESCE(c.user_id, p.user_id) AS BIGINT) AS user_id,
        |  COALESCE(c.event_id, -1) AS click_id,
        |  COALESCE(p.event_id, -1) AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |FULL JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(c.ts) >= epoch_ms(p.ts)
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts) + 3600000
        |ORDER BY user_id, click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("at_ms"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("start_ms"),
          (unix_millis(col("ts")) + 3600000L).as("end_ms"),
          col("event_id").as("purchase_id"))
      Joins.rangeJoinFullOuter(clicks, purchases, Seq("user_id"),
          "at_ms", "start_ms", "end_ms", binWidth = 3600000L)
        .select(col("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    },

    // --- FULL-outer interval-overlap join: q69 with both unmatched sides
    //     preserved. BOTH sides explode to bin copies, so each side's
    //     unmatched rows emit exactly once via its own pre-explode row-id
    //     count window (see Joins.intervalOverlapJoinFullOuter).
    Query(
      "q78_overlap_full",
      """SELECT CAST(COALESCE(c.user_id, p.user_id) AS BIGINT) AS user_id,
        |  COALESCE(c.event_id, -1) AS click_id,
        |  COALESCE(p.event_id, -1) AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |FULL JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts) + 3600000
        |  AND epoch_ms(p.ts) < epoch_ms(c.ts) + 1800000
        |ORDER BY user_id, click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("c_start"),
          (unix_millis(col("ts")) + 1800000L).as("c_end"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("p_start"),
          (unix_millis(col("ts")) + 3600000L).as("p_end"),
          col("event_id").as("purchase_id"))
      Joins.intervalOverlapJoinFullOuter(clicks, purchases, Seq("user_id"),
          leftStart = "c_start", leftEnd = "c_end",
          rightStart = "p_start", rightEnd = "p_end",
          binWidth = 3600000L)
        .select(col("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    },

    // --- Range join over VARIABLE-length windows (each purchase's
    //     attribution window scales with its value), binned via the
    //     statement-scoped RANGE_BIN hint: the window length is data, not
    //     plan, so width inference is impossible and the session conf
    //     would leak to every other theta-join — the hint names exactly
    //     this join. Vanilla Spark would plan the raw predicate as a
    //     BroadcastNestedLoopJoin; the oracle replays the plain
    //     inequality join.
    Query(
      "q79_range_bin_hint",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(c.ts) >= epoch_ms(p.ts)
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts)
        |        + CAST(floor(p.value * 10000) AS BIGINT)
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("at_ms"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          unix_millis(col("ts")).as("start_ms"),
          (unix_millis(col("ts")) +
            floor(col("value") * 10000).cast("long")).as("end_ms"),
          col("event_id").as("purchase_id"))
      clicks.hint("range_bin", 3600000L)
        .join(purchases,
          col("user_id") === col("p_user_id") &&
            col("at_ms") >= col("start_ms") &&
            col("at_ms") < col("end_ms"))
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- The range join written on the TIMESTAMP column directly —
    //     `c.ts < p.ts + INTERVAL '1' HOUR` — the shape users actually
    //     write, with no epoch_ms conversion anywhere. RangeJoinRewrite
    //     bins on epoch micros with the interval literal's micros as the
    //     width (conf-free); unlike q57/q67 this compares at FULL
    //     timestamp precision (the testdata has sub-millisecond
    //     components, so the result legitimately differs from the
    //     ms-truncated epoch_ms variants — the oracle replays the same
    //     full-precision predicate in DuckDB).
    Query(
      "q75_range_join_ts",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND c.ts >= p.ts
        |  AND c.ts < p.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
      clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("c_ts") >= col("p_ts") &&
            col("c_ts") < col("p_ts") + expr("INTERVAL '1' HOUR"))
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- q57's predicate written the way a plain-SQL user would: a raw
    //     theta-join, NO call to Joins.rangeJoin. The RangeJoinRewrite
    //     optimizer rule must turn it into the binned equi-join (its
    //     sliding-window form even infers the 3600000 bin width from the
    //     `< start + C` literal); RangeJoinRewriteSpec pins the plan shape.
    Query(
      "q67_range_join_sql",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(c.ts) >= epoch_ms(p.ts)
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts) + 3600000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("at_ms"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          unix_millis(col("ts")).as("start_ms"),
          col("event_id").as("purchase_id"))
      clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("at_ms") >= col("start_ms") &&
            col("at_ms") < col("start_ms") + 3600000L)
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- TWO-dimensional range join, raw theta predicates and NO equi
    //     key: clicks within an hour after a purchase AND within a $50
    //     value band above it. Vanilla Spark plans this keyless join as
    //     BroadcastNestedLoopJoin (O(|L|·|R|)); RangeJoinRewrite bins BOTH
    //     sliding windows (widths inferred from the two `< start + C`
    //     literals) so the join carries two equi keys and candidates must
    //     co-reside in time AND value. PlanShapeSpec pins both bin keys.
    Query(
      "q68_range_join_2d",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON epoch_ms(c.ts) >= epoch_ms(p.ts)
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts) + 3600000
        |  AND c.value >= p.value AND c.value < p.value + 50
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(unix_millis(col("ts")).as("at_ms"), col("value"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(unix_millis(col("ts")).as("start_ms"),
          col("value").as("v_lo"), col("event_id").as("purchase_id"))
      clicks.join(purchases,
          col("at_ms") >= col("start_ms") &&
            col("at_ms") < col("start_ms") + 3600000L &&
            col("value") >= col("v_lo") &&
            col("value") < col("v_lo") + 50.0)
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- Interval OVERLAP join (both sides are intervals): 30-minute
    //     click sessions overlapping 60-minute purchase attribution
    //     windows, per user. Joins.intervalOverlapJoin explodes BOTH
    //     sides over shared bins and emits each pair from one canonical
    //     bin (the overlap's start), so multi-bin overlaps never
    //     duplicate; the oracle replays the raw inequality join.
    Query(
      "q69_interval_overlap",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts) + 3600000
        |  AND epoch_ms(p.ts) < epoch_ms(c.ts) + 1800000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("c_start"),
          (unix_millis(col("ts")) + 1800000L).as("c_end"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("p_start"),
          (unix_millis(col("ts")) + 3600000L).as("p_end"),
          col("event_id").as("purchase_id"))
      Joins.intervalOverlapJoin(clicks, purchases, Seq("user_id"),
          leftStart = "c_start", leftEnd = "c_end",
          rightStart = "p_start", rightEnd = "p_end",
          binWidth = 3600000L)
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- TWO-dimensional interval-overlap join: click sessions
    //     overlapping purchase attribution windows in TIME and in a
    //     VALUE band, per user. Each OverlapDim contributes its own bin
    //     equi-key (candidates co-reside in both dimensions) and its own
    //     canonical bin (duplicate-free with no dedup shuffle); the
    //     oracle replays the raw four-inequality join.
    Query(
      "q73_overlap_2d",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_ms(c.ts) < epoch_ms(p.ts) + 3600000
        |  AND epoch_ms(p.ts) < epoch_ms(c.ts) + 1800000
        |  AND c.value < p.value + 100 AND p.value < c.value + 80
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("c_start"),
          (unix_millis(col("ts")) + 1800000L).as("c_end"),
          col("value").as("cv_lo"), (col("value") + 80.0).as("cv_hi"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("p_start"),
          (unix_millis(col("ts")) + 3600000L).as("p_end"),
          col("value").as("pv_lo"), (col("value") + 100.0).as("pv_hi"),
          col("event_id").as("purchase_id"))
      Joins.intervalOverlapJoin(clicks, purchases, Seq("user_id"), Seq(
          Joins.OverlapDim("c_start", "c_end", "p_start", "p_end",
            binWidth = 3600000L),
          Joins.OverlapDim("cv_lo", "cv_hi", "pv_lo", "pv_hi",
            binWidth = 128L)),
          maxBinSize = 10000L)
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- The overlap predicate written as raw theta conjuncts with NO
    //     equi key — vanilla Spark plans it as BroadcastNestedLoopJoin;
    //     RangeJoinRewrite's symmetric branch must bin BOTH sliding
    //     windows (width = the larger inferred literal) and dedup via the
    //     canonical bin. Short 5/10-minute windows keep the keyless
    //     result bounded. RangeJoinRewriteSpec pins the plan shape.
    Query(
      "q70_overlap_sql",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type='click') c
        |JOIN (SELECT * FROM events WHERE event_type='purchase') p
        |  ON epoch_ms(c.ts) < epoch_ms(p.ts) + 600000
        |  AND epoch_ms(p.ts) < epoch_ms(c.ts) + 300000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(unix_millis(col("ts")).as("c_start"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(unix_millis(col("ts")).as("p_start"),
          col("event_id").as("purchase_id"))
      clicks.join(purchases,
          col("c_start") < col("p_start") + 600000L &&
            col("p_start") < col("c_start") + 300000L)
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id", "purchase_id")
    },

    // --- Latest event per user as ONE max_by aggregation (no window, no
    //     sort — map-side combine applies). The oracle's explicit
    //     (ts DESC, event_id DESC) ranking pins the SAME tie-break as
    //     max(struct(ts, event_id)) — arg_max would pick an arbitrary row
    //     on a ts tie and silently couple the gate to tie-free data.
    Query(
      "q58_latest_by_key",
      """SELECT user_id, event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      AggOps.latestByKey(Tables.load(s, d, "events"),
          keyCols = Seq("user_id"), orderCol = "ts",
          valCols = Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .orderBy("user_id")
    },

    // --- Weighted sample (A-ES, md5-uniform): deterministic and
    //     engine-independent in principle, but the u^(1/w) ranking goes
    //     through libm pow whose last-ulp rounding differs across engines,
    //     so replaying it in DuckDB could flake at a selection boundary —
    //     rows-only here; determinism is asserted in SplitsSpec.
    Query.noOracle("q59_weighted_sample") { (s, d) =>
      Splits.weightedSample(Tables.load(s, d, "orders"),
          n = 50, key = "o_orderkey", weightCol = "o_totalprice")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // --- Sliding-window token chunking (context-window prep): 64-token
    //     chunks every 32 tokens, last chunk short; DuckDB replays the
    //     same slicing with list functions.
    Query(
      "q60_chunking",
      """WITH t AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') tk
        |  FROM documents WHERE doc_id < 50 AND text IS NOT NULL),
        |c AS (SELECT doc_id, tk,
        |    unnest(range(0, least(
        |      CAST(ceil(greatest(len(tk) - 64, 0) / 32.0) AS BIGINT) + 1,
        |      CAST(floor((greatest(len(tk), 1) - 1) / 32.0) AS BIGINT) + 1)))
        |      AS chunk_id
        |  FROM t)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  array_to_string(list_slice(tk, chunk_id*32 + 1, chunk_id*32 + 64),
        |    ' ') AS chunk,
        |  CAST(len(list_slice(tk, chunk_id*32 + 1, chunk_id*32 + 64))
        |    AS INT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      TextOps.chunkTokens(
          Tables.load(s, d, "documents").filter(col("doc_id") < 50),
          "text", "doc_id", chunkSize = 64, stride = 32)
        .orderBy("doc_id", "chunk_id")
    },

    // --- Gopher-style repetition quality signals (distinct-token ratio,
    //     top-token fraction): the filter that drops degenerate
    //     machine-generated text before training.
    Query(
      "q61_repetition",
      """WITH t AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') tk
        |  FROM documents WHERE doc_id < 150),
        |tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
        |f AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        count(*) AS n_distinct, max(c) AS top
        |      FROM f GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(g.n_tokens, 0) AS n_tokens,
        |  round(coalesce(CAST(g.n_distinct AS DOUBLE) / g.n_tokens, 0), 6)
        |    AS distinct_ratio,
        |  round(coalesce(CAST(g.top AS DOUBLE) / g.n_tokens, 0), 6)
        |    AS top_token_frac
        |FROM t LEFT JOIN g USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.repetitionStats(
          Tables.load(s, d, "documents").filter(col("doc_id") < 150),
          "text", "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          round(col("distinct_ratio"), 6).as("distinct_ratio"),
          round(col("top_token_frac"), 6).as("top_token_frac"))
        .orderBy("doc_id")
    },

    // --- Map-function surface (§2.8): from_json → MAP, map_concat,
    //     map_keys, element_at (present and missing keys). map_concat runs
    //     over two literal-keyed maps ONLY — concatenating user JSON with
    //     an injected key would throw under the default
    //     spark.sql.mapKeyDedupPolicy=EXCEPTION the day props contains
    //     that key.
    Query(
      "q62_map_funcs",
      """SELECT event_id,
        |  CAST(len(json_keys(props)) AS INT) AS n_keys,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  event_type AS type_val,
        |  CAST(user_id AS VARCHAR) AS uid_val,
        |  CAST(NULL AS VARCHAR) AS missing_val
        |FROM events WHERE event_id < 300
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "events").filter(col("event_id") < 300)
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))
        .withColumn("m2", map_concat(
          map(lit("type"), col("event_type")),
          map(lit("uid"), col("user_id").cast("string"))))
        .select(col("event_id"),
          size(map_keys(col("m"))).as("n_keys"),
          concat_ws(",", sort_array(map_keys(col("m")))).as("keys"),
          element_at(col("m"), "k").cast("bigint").as("k_val"),
          element_at(col("m2"), "type").as("type_val"),
          element_at(col("m2"), "uid").as("uid_val"),
          element_at(col("m"), "missing").as("missing_val"))
        .orderBy("event_id")
    },

    // --- PII redaction: the corpus has no natural PII, so both sides
    //     append a synthetic email + phone per document and must scrub
    //     them identically — a live cross-engine check of the regex
    //     semantics (Java regex vs RE2) the scrubber relies on.
    Query(
      "q63_redaction",
      """WITH aug AS (SELECT doc_id,
        |    text || ' contact user' || doc_id ||
        |    '@example.com tel 01234567' || doc_id AS t
        |  FROM documents WHERE doc_id < 60)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '(?i)\bhttps?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '\d[\d\s().-]{7,}\d', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t, '(?i)\bhttps?://\S+'))
        |    + len(regexp_extract_all(
        |        regexp_replace(t, '(?i)\bhttps?://\S+', '<URL>', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(
        |        regexp_replace(regexp_replace(t,
        |          '(?i)\bhttps?://\S+', '<URL>', 'g'),
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |          '<EMAIL>', 'g'),
        |        '\d[\d\s().-]{7,}\d')) AS INT)
        |    AS n_redactions
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents").filter(col("doc_id") < 60)
        .withColumn("t", concat(col("text"), lit(" contact user"),
          col("doc_id"), lit("@example.com tel 01234567"), col("doc_id")))
        .select(col("doc_id"),
          TextOps.redact(col("t")).as("redacted"),
          TextOps.redactionCount(col("t")).as("n_redactions"))
        .orderBy("doc_id")
    },

    // --- Benchmark decontamination: docs 0–49 stand in for an eval set;
    //     every corpus doc gets its contaminated-3-gram fraction and a
    //     keep/drop verdict at threshold 0.1. Overlap fractions are exact
    //     set math DuckDB replays verbatim (the engine's 64-bit n-gram
    //     hashes are collision-free at this scale by construction). n=3
    //     because the synthetic corpus draws from a tiny shared
    //     vocabulary — real pipelines use the 8–13-gram default.
    Query(
      "q80_decontaminate",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      t -> len(t) > 0) AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE
        |    WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
        |    WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(len(tk) - 2),
        |      i -> array_to_string(tk[i+1:i+3], ' ')) END) AS sh
        |  FROM tok),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh
        |          WHERE doc_id < 50),
        |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |hits AS (SELECT e.doc_id, count(*) AS c
        |         FROM ex e JOIN bench b USING (g) GROUP BY e.doc_id),
        |fr AS (
        |  SELECT s.doc_id, CAST(len(sh) AS BIGINT) AS doc_ngrams,
        |    CAST(coalesce(h.c, 0) AS BIGINT) AS contaminated_ngrams,
        |    CASE WHEN len(sh) = 0 THEN 0.0
        |         ELSE coalesce(h.c, 0)::DOUBLE / len(sh) END AS f
        |  FROM sh s LEFT JOIN hits h USING (doc_id))
        |SELECT doc_id, doc_ngrams, contaminated_ngrams,
        |  round(f, 4) AS contamination_frac,
        |  CASE WHEN f <= 0.1 THEN 'keep' ELSE 'drop' END AS verdict
        |FROM fr ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      TextOps.decontaminate(docs, docs.filter(col("doc_id") < 50),
          "text", n = 3, threshold = 0.1)
        .select(col("doc_id"), col("doc_ngrams"),
          col("contaminated_ngrams"),
          round(col("contamination_frac"), 4).as("contamination_frac"),
          col("verdict"))
        .orderBy("doc_id")
    },

    // --- Repeated-substring detection: a planted license header (every
    //     5th doc) and footer (every 4th) are the corpus-repeated
    //     boilerplate doc-level dedup can't see; the oracle replays the
    //     occurrence counts and islands-merges the covered positions.
    Query(
      "q81_repeated_spans",
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'standard license header all rights reserved worldwide '
        |        || text ELSE text END ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN ' visit our website for more information today'
        |      ELSE '' END AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      t -> len(t) > 0) AS tk
        |  FROM aug),
        |occ AS (
        |  SELECT doc_id, i AS s, i + 5 AS e,
        |    array_to_string(tk[i+1:i+5], ' ') AS g
        |  FROM (SELECT doc_id, tk, unnest(range(len(tk) - 4)) AS i
        |        FROM tok WHERE len(tk) >= 5)
        |  UNION ALL
        |  SELECT doc_id, 0 AS s, len(tk) AS e,
        |    array_to_string(tk, ' ') AS g
        |  FROM tok WHERE len(tk) > 0 AND len(tk) < 5),
        |rep AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 30),
        |hits AS (SELECT o.doc_id, o.s, o.e FROM occ o JOIN rep r USING (g)),
        |cov AS (SELECT DISTINCT doc_id, p FROM
        |  (SELECT doc_id, s + unnest(range(e - s)) AS p FROM hits)),
        |isl AS (SELECT doc_id, p,
        |  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM cov)
        |SELECT doc_id, CAST(min(p) AS INT) AS span_start,
        |  CAST(max(p) + 1 AS INT) AS span_end
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      Dedup.repeatedSpans(boilerplateCorpus(s, d), "text", "doc_id",
          n = 5, minCount = 30)
        .orderBy("doc_id", "span_start")
    },

    // --- The removal transform over q81's spans: masked text must match
    //     the oracle's rebuild token for token (marker inserted once per
    //     span) — a full cross-engine string check like q63's.
    Query(
      "q82_mask_repeated",
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'standard license header all rights reserved worldwide '
        |        || text ELSE text END ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN ' visit our website for more information today'
        |      ELSE '' END AS text
        |  FROM documents),
        |lotok AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      t -> len(t) > 0) AS tk
        |  FROM aug),
        |occ AS (
        |  SELECT doc_id, i AS s, i + 5 AS e,
        |    array_to_string(tk[i+1:i+5], ' ') AS g
        |  FROM (SELECT doc_id, tk, unnest(range(len(tk) - 4)) AS i
        |        FROM lotok WHERE len(tk) >= 5)
        |  UNION ALL
        |  SELECT doc_id, 0 AS s, len(tk) AS e,
        |    array_to_string(tk, ' ') AS g
        |  FROM lotok WHERE len(tk) > 0 AND len(tk) < 5),
        |rep AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 30),
        |hits AS (SELECT o.doc_id, o.s, o.e FROM occ o JOIN rep r USING (g)),
        |cov AS (SELECT DISTINCT doc_id, p FROM
        |  (SELECT doc_id, s + unnest(range(e - s)) AS p FROM hits)),
        |isl AS (SELECT doc_id, p,
        |  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM cov),
        |spans AS (SELECT doc_id, min(p) AS span_start
        |  FROM isl GROUP BY doc_id, grp),
        |otok AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |      trim(coalesce(text, '')), '\s+'), t -> len(t) > 0) AS tk
        |  FROM aug),
        |pieces AS (
        |  SELECT k.doc_id, k.p, k.tok FROM
        |    (SELECT doc_id, j AS p, tk[j+1] AS tok FROM
        |      (SELECT doc_id, tk, unnest(range(len(tk))) AS j FROM otok)) k
        |  LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.p = c.p
        |  WHERE c.p IS NULL
        |  UNION ALL
        |  SELECT doc_id, span_start AS p, '<DUP>' AS tok FROM spans),
        |masked AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS m
        |  FROM pieces GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(m.m, '') AS masked_text
        |FROM otok t LEFT JOIN masked m USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.maskRepeatedSpans(boilerplateCorpus(s, d), "text", "doc_id",
          n = 5, minCount = 30, marker = "<DUP>")
        .select("doc_id", "masked_text")
        .orderBy("doc_id")
    },

    // --- N-gram LM quality scoring: bigram counts trained on docs
    //     0–99 as the trusted reference, every doc scored by mean
    //     add-1-smoothed log-likelihood. Counts + log math are exact
    //     set arithmetic DuckDB replays (64-bit gram hashes are
    //     collision-free here by construction).
    Query(
      "q83_ngram_lm",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      t -> len(t) > 0) AS tk
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, tk[i+1] AS w1, tk[i+2] AS w2
        |  FROM (SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS i
        |        FROM tok WHERE len(tk) >= 2)),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM bi
        |       WHERE doc_id < 100 GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c) AS c FROM c2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT t) + 1 AS v FROM
        |  (SELECT unnest(tk) AS t FROM tok WHERE doc_id < 100)),
        |sc AS (
        |  SELECT b.doc_id,
        |    ln((coalesce(c2.c, 0) + 1.0)
        |      / (coalesce(c1.c, 0) + 1.0 * v.v)) AS ll
        |  FROM bi b CROSS JOIN v
        |  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |  LEFT JOIN c1 ON b.w1 = c1.w1),
        |agg AS (SELECT doc_id, count(*) AS n_ngrams, avg(ll) AS s
        |        FROM sc GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(coalesce(a.n_ngrams, 0) AS BIGINT) AS n_ngrams,
        |  round(a.s, 4) AS lm_score
        |FROM tok t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val model = TextOps.ngramLm(docs.filter(col("doc_id") < 100),
        "text", n = 2)
      TextOps.lmScore(docs, model, "text", k = 1.0)
        .select(col("doc_id"), col("n_ngrams"),
          round(col("lm_score"), 4).as("lm_score"))
        .orderBy("doc_id")
    },

    // --- Token-sequence packing: the whole documents table packed into
    //     128-token training sequences with <|eod|> boundary markers in
    //     md5-digest order (the q52 engine-portability contract) — the
    //     oracle replays the stream slicing token for token, so every
    //     sequence string must match exactly.
    Query(
      "q84_pack_sequences",
      """WITH tok AS (
        |  SELECT doc_id, md5('graft' || CAST(doc_id AS VARCHAR)) AS dg,
        |    list_filter(string_split_regex(trim(coalesce(text, '')),
        |      '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, list_append(tk, '<|eod|>') AS tkb,
        |    len(tk) + 1 AS l,
        |    coalesce(sum(len(tk) + 1) OVER (ORDER BY dg, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM tok),
        |pieces AS (
        |  SELECT seq_id, off,
        |    greatest(off, seq_id * 128) AS pfrom,
        |    least(off + l, (seq_id + 1) * 128) AS puntil, tkb
        |  FROM (SELECT *, unnest(range(CAST(floor(off / 128) AS BIGINT),
        |      CAST(floor((off + l - 1) / 128) AS BIGINT) + 1)) AS seq_id
        |    FROM w)),
        |px AS (
        |  SELECT seq_id, off, tkb[pfrom - off + 1 : puntil - off] AS toks,
        |    puntil - pfrom AS nt
        |  FROM pieces)
        |SELECT seq_id, CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  string_agg(array_to_string(toks, ' '), ' ' ORDER BY off) AS seq
        |FROM px GROUP BY seq_id ORDER BY seq_id""".stripMargin) { (s, d) =>
      TextOps.packChunks(Tables.load(s, d, "documents"), "text", "doc_id",
          seqLen = 128)
        .orderBy("seq_id")
    },

    // --- Surgical decontamination: q80's benchmark (docs 0–49), but
    //     instead of a whole-doc verdict, the exact overlapping token
    //     spans — the oracle islands-merges the covered positions like
    //     q81's, with benchmark membership replacing the count floor.
    Query(
      "q85_contaminated_spans",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      t -> len(t) > 0) AS tk
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, i AS s, i + 3 AS e,
        |    array_to_string(tk[i+1:i+3], ' ') AS g
        |  FROM (SELECT doc_id, tk, unnest(range(len(tk) - 2)) AS i
        |        FROM tok WHERE len(tk) >= 3)
        |  UNION ALL
        |  SELECT doc_id, 0 AS s, len(tk) AS e,
        |    array_to_string(tk, ' ') AS g
        |  FROM tok WHERE len(tk) > 0 AND len(tk) < 3),
        |bench AS (SELECT DISTINCT g FROM occ WHERE doc_id < 50),
        |hits AS (SELECT o.doc_id, o.s, o.e FROM occ o
        |         JOIN bench b USING (g)),
        |cov AS (SELECT DISTINCT doc_id, p FROM
        |  (SELECT doc_id, s + unnest(range(e - s)) AS p FROM hits)),
        |isl AS (SELECT doc_id, p,
        |  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM cov)
        |SELECT doc_id, CAST(min(p) AS INT) AS span_start,
        |  CAST(max(p) + 1 AS INT) AS span_end
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      TextOps.contaminatedSpans(docs, docs.filter(col("doc_id") < 50),
          "text", "doc_id", n = 3)
        .orderBy("doc_id", "span_start")
    },

    // --- Semantic (embedding-space) decontamination: vectors 0–49 are
    //     the benchmark; every corpus vector gets its max EXACT cosine
    //     against them + a keep/drop verdict — brute force by design
    //     (a decontamination miss is a contaminated training set), so
    //     the oracle is exact with no recall caveat. The 50 benchmark
    //     members flag themselves at cosine 1.0; the noise corpus sits
    //     far below 0.95.
    Query(
      "q86_embedding_decon",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |b AS (SELECT v FROM e WHERE vec_id < 50),
        |m AS (SELECT e.vec_id, max(list_cosine_similarity(e.v, b.v)) mc
        |      FROM e, b GROUP BY e.vec_id)
        |SELECT vec_id, round(mc, 4) AS max_benchmark_cosine,
        |  CASE WHEN mc >= 0.95 THEN 'drop' ELSE 'keep' END AS verdict
        |FROM m ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      Similarity.embeddingDecontaminate(emb,
          emb.filter(col("vec_id") < 50), "embedding", "vec_id",
          threshold = 0.95)
        .select(col("vec_id"),
          round(col("max_benchmark_cosine"), 4)
            .as("max_benchmark_cosine"),
          col("verdict"))
        .orderBy("vec_id")
    },

    // --- q80 through the RELATIONAL path: same fixture, same oracle —
    //     the unbounded-benchmark form (hash join instead of a driver
    //     collect + broadcast) must produce byte-identical output.
    Query(
      "q87_decon_relational",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      t -> len(t) > 0) AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE
        |    WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
        |    WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(len(tk) - 2),
        |      i -> array_to_string(tk[i+1:i+3], ' ')) END) AS sh
        |  FROM tok),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh
        |          WHERE doc_id < 50),
        |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |hits AS (SELECT e.doc_id, count(*) AS c
        |         FROM ex e JOIN bench b USING (g) GROUP BY e.doc_id),
        |fr AS (
        |  SELECT s.doc_id, CAST(len(sh) AS BIGINT) AS doc_ngrams,
        |    CAST(coalesce(h.c, 0) AS BIGINT) AS contaminated_ngrams,
        |    CASE WHEN len(sh) = 0 THEN 0.0
        |         ELSE coalesce(h.c, 0)::DOUBLE / len(sh) END AS f
        |  FROM sh s LEFT JOIN hits h USING (doc_id))
        |SELECT doc_id, doc_ngrams, contaminated_ngrams,
        |  round(f, 4) AS contamination_frac,
        |  CASE WHEN f <= 0.1 THEN 'keep' ELSE 'drop' END AS verdict
        |FROM fr ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      TextOps.decontaminateRelational(docs,
          docs.filter(col("doc_id") < 50), "text", "doc_id",
          n = 3, threshold = 0.1)
        .select(col("doc_id"), col("doc_ngrams"),
          col("contaminated_ngrams"),
          round(col("contamination_frac"), 4).as("contamination_frac"),
          col("verdict"))
        .orderBy("doc_id")
    },

    // --- q83 through the RELATIONAL path: same reference (docs 0–99),
    //     same oracle — counts stay DataFrames, scores come from two
    //     hash joins; only the vocabulary size touches the driver.
    Query(
      "q88_lm_relational",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      t -> len(t) > 0) AS tk
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, tk[i+1] AS w1, tk[i+2] AS w2
        |  FROM (SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS i
        |        FROM tok WHERE len(tk) >= 2)),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM bi
        |       WHERE doc_id < 100 GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c) AS c FROM c2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT t) + 1 AS v FROM
        |  (SELECT unnest(tk) AS t FROM tok WHERE doc_id < 100)),
        |sc AS (
        |  SELECT b.doc_id,
        |    ln((coalesce(c2.c, 0) + 1.0)
        |      / (coalesce(c1.c, 0) + 1.0 * v.v)) AS ll
        |  FROM bi b CROSS JOIN v
        |  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |  LEFT JOIN c1 ON b.w1 = c1.w1),
        |agg AS (SELECT doc_id, count(*) AS n_ngrams, avg(ll) AS s
        |        FROM sc GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(coalesce(a.n_ngrams, 0) AS BIGINT) AS n_ngrams,
        |  round(a.s, 4) AS lm_score
        |FROM tok t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val model = TextOps.ngramLmRelations(
        docs.filter(col("doc_id") < 100), "text", n = 2)
      TextOps.lmScoreRelational(docs, model, "text", "doc_id", k = 1.0)
        .select(col("doc_id"), col("n_ngrams"),
          round(col("lm_score"), 4).as("lm_score"))
        .orderBy("doc_id")
    },

    // --- TRAINED language-ID: per-language char-3-gram multinomials,
    //     argmax add-1 log-likelihood. Two in-engine "languages" built
    //     from the table itself — 'en' trains on docs 0–49 forward,
    //     'rv' on the same docs REVERSED (same gram totals by
    //     construction, so an all-OOV doc ties exactly and must break
    //     to 'en' deterministically in both engines). Counts + ln math
    //     replay exactly in DuckDB like q83's.
    Query(
      "q89_langid_trained",
      """WITH src AS (SELECT doc_id,
        |    lower(trim(coalesce(text, ''))) AS s FROM documents),
        |train AS (
        |  SELECT 'en' AS lang, s FROM src WHERE doc_id < 50
        |  UNION ALL
        |  SELECT 'rv' AS lang, reverse(s) AS s FROM src
        |  WHERE doc_id < 50),
        |tg AS (SELECT lang, s[i+1:i+3] AS g
        |       FROM (SELECT lang, s, unnest(range(len(s) - 2)) AS i
        |             FROM train WHERE len(s) >= 3)),
        |c AS (SELECT lang, g, count(*) AS c FROM tg GROUP BY lang, g),
        |tot AS (SELECT lang, sum(c) AS t FROM c GROUP BY lang),
        |v AS (SELECT count(DISTINCT g) + 1 AS v FROM tg),
        |dg AS (SELECT doc_id, s[i+1:i+3] AS g
        |       FROM (SELECT doc_id, s, unnest(range(len(s) - 2)) AS i
        |             FROM src WHERE len(s) >= 3)),
        |sc AS (SELECT d.doc_id, l.lang,
        |         sum(ln((coalesce(c.c, 0) + 1.0)
        |           / (tot.t + 1.0 * v.v))) AS ll,
        |         count(*) AS ng
        |       FROM dg d
        |       CROSS JOIN (SELECT DISTINCT lang FROM train) l
        |       JOIN tot ON tot.lang = l.lang
        |       CROSS JOIN v
        |       LEFT JOIN c ON c.lang = l.lang AND c.g = d.g
        |       GROUP BY d.doc_id, l.lang),
        |best AS (SELECT doc_id, lang, ll / ng AS sc, ng,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY ll DESC, lang ASC) AS rn
        |         FROM sc)
        |SELECT s2.doc_id, coalesce(b.lang, 'und') AS lang,
        |  round(b.sc, 4) AS lang_score,
        |  CAST(coalesce(b.ng, 0) AS BIGINT) AS n_cgrams
        |FROM src s2 LEFT JOIN best b
        |  ON b.doc_id = s2.doc_id AND b.rn = 1
        |ORDER BY s2.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val src = docs.select(col("doc_id"),
        lower(trim(coalesce(col("text"), lit("")))).as("s"))
      val train = src.filter(col("doc_id") < 50)
        .select(lit("en").as("lang"), col("s"))
        .unionByName(src.filter(col("doc_id") < 50)
          .select(lit("rv").as("lang"), reverse(col("s")).as("s")))
      val model = TextOps.charLangModel(train, "s", "lang", n = 3)
      TextOps.langIdTrained(src, model, "s", k = 1.0)
        .select(col("doc_id"), col("lang"),
          round(col("lang_score"), 4).as("lang_score"),
          col("n_cgrams"))
        .orderBy("doc_id")
    },

    // --- Perceptual image dedup over a REAL binary fixture: 100 pairs
    //     of deterministic 32×32 PNGs (even doc_id = base pattern, odd
    //     = the same pattern with a sub-cell brightness edit), encoded
    //     and decoded through the actual JDK codec, dHashed, banded
    //     hamming join. Exactly the 100 planted pairs survive — but the
    //     hash math has no DuckDB analogue, so this rides the rows-only
    //     check like the other hash-family queries.
    Query.noOracle("q90_image_neardup") { (s, d) =>
      val mk = udf { (id: Long) =>
        val g = (id / 2).toInt
        val tweak = id % 2 == 1
        val w = 32; val h = 32
        val px = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v0 = scala.util.hashing.MurmurHash3
              .productHash((g, x / 4, y / 4)) & 0xff
            val v = if (tweak && x < 2 && y < 2) (v0 + 96) & 0xff else v0
            val i = (y * w + x) * 3
            px(i) = v.toByte; px(i + 1) = v.toByte; px(i + 2) = v.toByte
            x += 1
          }
          y += 1
        }
        graft.sources.ImageCodec.encodePng(w, h, px)
      }
      val imgs = Tables.load(s, d, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), mk(col("doc_id")).as("img"))
      Multimodal.imageNearDuplicates(imgs, "img", "doc_id")
        .orderBy("key_a", "key_b")
    },

    // --- Subword (BPE) tokenize + pack: vocabulary trained on docs
    //     0–99 (deterministic merges — ties break ascending), every doc
    //     encoded to token IDs map-only, IDs packed into 256-token
    //     training sequences. The merge loop has no SQL analogue
    //     (documented in COVERAGE.md), so this rides the rows-only
    //     check; determinism is pinned by TextOpsSpec instead.
    Query.noOracle("q91_bpe_pack") { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val model = TextOps.bpeTrain(docs.filter(col("doc_id") < 100),
        "text", numMerges = 200)
      val encoded = TextOps.bpeEncode(docs, model, "text")
        .withColumn("ids_str", concat_ws(" ", col("token_ids")))
      TextOps.packChunks(encoded, "ids_str", "doc_id", seqLen = 256,
          boundary = "-1")
        .orderBy("seq_id")
    },

    // --- Contamination REPORT (the reverse view of q80/q87): per
    //     benchmark item (docs 0–49), how much of it leaked into the
    //     disjoint corpus (docs 50+) — leaked-gram counts, fraction,
    //     and the number of distinct leaking corpus docs. Exact
    //     count+string math, DuckDB-replayable like q87's.
    Query(
      "q92_contamination_report",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |      lower(trim(coalesce(text, ''))), '\s+'),
        |      t -> len(t) > 0) AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE
        |    WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
        |    WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(len(tk) - 2),
        |      i -> array_to_string(tk[i+1:i+3], ' ')) END) AS sh
        |  FROM tok),
        |bx AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id < 50),
        |cx AS (SELECT doc_id AS cid, unnest(sh) AS g FROM sh
        |       WHERE doc_id >= 50),
        |st AS (SELECT b.doc_id, count(DISTINCT b.g) AS leaked,
        |              count(DISTINCT c.cid) AS ldocs
        |       FROM bx b JOIN cx c USING (g) GROUP BY b.doc_id),
        |fr AS (
        |  SELECT s.doc_id, CAST(len(sh) AS BIGINT) AS bench_ngrams,
        |    CAST(coalesce(st.leaked, 0) AS BIGINT) AS leaked_ngrams,
        |    CASE WHEN len(sh) = 0 THEN 0.0
        |         ELSE coalesce(st.leaked, 0)::DOUBLE / len(sh) END AS f,
        |    CAST(coalesce(st.ldocs, 0) AS BIGINT) AS leaking_docs
        |  FROM sh s LEFT JOIN st USING (doc_id) WHERE s.doc_id < 50)
        |SELECT doc_id, bench_ngrams, leaked_ngrams,
        |  round(f, 4) AS leak_frac, leaking_docs,
        |  CASE WHEN leaked_ngrams = 0 THEN 'clean' ELSE 'leaked'
        |  END AS verdict
        |FROM fr ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      TextOps.contaminationReport(
          docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50).select("doc_id", "text"),
          "text", "doc_id", "doc_id", n = 3)
        .select(col("doc_id"), col("bench_ngrams"),
          col("leaked_ngrams"), round(col("leak_frac"), 4)
            .as("leak_frac"),
          col("leaking_docs"), col("verdict"))
        .orderBy("doc_id")
    },

    // --- Temperature-weighted domain mixture sample: 100 docs across
    //     the language domains at tau=0.5 — largest-remainder
    //     n_d^0.5 quotas, digest order within each language. The
    //     whole allocation (pow/floor/remainder-rank) replays in SQL,
    //     so the exact row set is oracle-checked like q52/q53.
    Query(
      "q93_temperature_sample",
      """WITH c AS (SELECT lang AS dom, count(*) AS nd FROM documents
        |           WHERE lang IS NOT NULL GROUP BY lang),
        |t AS (SELECT sum(pow(nd, 0.5)) AS tot FROM c),
        |i AS (SELECT dom, nd, 100 * pow(nd, 0.5) / t.tot AS ideal
        |      FROM c CROSS JOIN t),
        |b AS (SELECT dom, nd, CAST(floor(ideal) AS BIGINT) AS base,
        |             ideal - floor(ideal) AS rem FROM i),
        |l AS (SELECT 100 - sum(base) AS leftover FROM b),
        |r AS (SELECT dom, nd, base,
        |             row_number() OVER (ORDER BY rem DESC, dom) AS rk
        |      FROM b),
        |q AS (SELECT dom, least(nd, base + CASE WHEN rk <= l.leftover
        |             THEN 1 ELSE 0 END) AS quota FROM r CROSS JOIN l)
        |SELECT doc_id, lang FROM documents d JOIN q ON d.lang = q.dom
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id)
        |  <= q.quota
        |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      Splits.temperatureSample(Tables.load(s, d, "documents"),
          "lang", n = 100, tau = 0.5, key = "doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    },

    // --- Cluster-scoped (SemDeDup-style) embedding near-dup: 50
    //     planted near-copies recovered through k-means scoping +
    //     exact in-cluster cosine. kmeansIters=0 keeps the
    //     hash-sampled deterministic centroids (bit-stable rows);
    //     the k-means math has no DuckDB analogue, so this rides the
    //     rows-only check — the recall floor vs exact cosinePairs is
    //     pinned in SimilaritySpec instead.
    Query.noOracle("q94_cluster_neardup") { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val planted = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"),
            x => x * lit(1.001f) + lit(0.0004f)).as("embedding"))
      Similarity.clusterNearDuplicatePairs(
          emb.select("vec_id", "embedding").unionByName(planted),
          "embedding", "vec_id", nlist = 16, threshold = 0.99,
          kmeansIters = 0)
        .select(col("key_a"), col("key_b"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("key_a", "key_b")
    },

    // --- Trained quality classifier (the discriminative member of the
    //     quality family): hashed-BoW logistic regression trained
    //     in-query — positives are real documents, negatives a
    //     deterministic disjoint-vocabulary gibberish twin per doc —
    //     then every document scored map-only. L-BFGS training has no
    //     SQL analogue (and is FP-reorder sensitive), so this rides
    //     the rows-only check; the accuracy/parity floors live in
    //     QualityModelSpec.
    Query.noOracle("q95_quality_score") { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val pos = docs.filter(col("doc_id") < 200)
        .select(col("text"), lit(1).as("label"))
      val neg = docs.filter(col("doc_id") < 200)
        .select(concat_ws(" ", (0 until 12).map(j =>
            concat(lit("zx"), pmod(col("doc_id") * 31 + j, lit(997))))
            : _*).as("text"),
          lit(0).as("label"))
      // the labeled set is 400 rows by construction; L-BFGS runs 20+
      // treeAggregate jobs over it, and each source partition adds a
      // task to every iteration job with zero parallelism benefit at
      // this size — coalesce to one partition so the iteration jobs are
      // single-task (a query-local choice like the bounded slices
      // elsewhere, not an operator default: real training sets scale)
      val clf = QualityModel.train(pos.unionByName(neg).coalesce(1), "text",
        "label", numFeatures = 1 << 14, maxIter = 20)
      QualityModel.score(docs, clf, "text")
        .select(col("doc_id"), round(col("quality_prob"), 4)
          .as("quality_prob"))
        .orderBy("doc_id")
    },

    // --- C4/CCNet-style corpus-level line dedup: multi-line docs planted
    //     in-query (line 1 = the doc's own text, line 2 = the text of doc
    //     id%50 — repeated across ~10 docs and, for ids < 50, within the
    //     doc itself — line 3 = a universal footer, trim-padded on even
    //     ids to exercise trim identity, line 4 = a short exempt line).
    //     Exact keep-first-by-(key,pos) semantics replayed line-for-line
    //     by the oracle — a full cross-engine string check like q82's.
    Query(
      "q96_line_dedup",
      """WITH aug AS (
        |  SELECT a.doc_id,
        |    a.text || chr(10) || b.text || chr(10) ||
        |    CASE WHEN a.doc_id % 2 = 0
        |      THEN '  standard site footer all rights reserved  '
        |      ELSE 'standard site footer all rights reserved' END
        |    || chr(10) || 'ok' AS text
        |  FROM documents a JOIN documents b ON a.doc_id % 50 = b.doc_id),
        |spl AS (SELECT doc_id, string_split(text, chr(10)) AS ln
        |        FROM aug),
        |l AS (SELECT doc_id, j AS p, ln[j+1] AS line
        |      FROM (SELECT doc_id, ln, unnest(range(len(ln))) AS j
        |            FROM spl)),
        |cand AS (SELECT doc_id, p, trim(line) AS tl FROM l
        |         WHERE len(trim(line)) >= 10),
        |firsts AS (SELECT tl, min(doc_id * 1000 + p) AS fk
        |           FROM cand GROUP BY tl HAVING count(*) > 1),
        |rm AS (SELECT c.doc_id, c.p FROM cand c
        |       JOIN firsts f ON c.tl = f.tl
        |       WHERE c.doc_id * 1000 + c.p <> f.fk),
        |kept AS (SELECT l.doc_id, l.p, l.line FROM l LEFT JOIN rm
        |         ON l.doc_id = rm.doc_id AND l.p = rm.p
        |         WHERE rm.p IS NULL),
        |agg AS (SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY p) AS text_deduped,
        |    count(*) AS kept_lines
        |  FROM kept GROUP BY doc_id),
        |rmc AS (SELECT doc_id, count(*) AS removed_lines FROM rm
        |        GROUP BY doc_id)
        |SELECT a.doc_id, a.text_deduped, a.kept_lines,
        |  coalesce(r.removed_lines, 0) AS removed_lines
        |FROM agg a LEFT JOIN rmc r USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val base = docs.select(col("doc_id").as("_bid"),
        col("text").as("_btext"))
      val corpus = docs
        .join(base, docs("doc_id") % 50 === base("_bid"))
        .select(col("doc_id"), concat_ws("\n", col("text"),
          col("_btext"),
          when(col("doc_id") % 2 === 0,
            lit("  standard site footer all rights reserved  "))
            .otherwise(lit("standard site footer all rights reserved")),
          lit("ok")).as("text"))
      Dedup.dedupLines(corpus, "text", "doc_id", minChars = 10)
        .select("doc_id", "text_deduped", "kept_lines", "removed_lines")
        .orderBy("doc_id")
    }
  )

  /** q81/q82's fixture: documents with a license-header prefix planted on
    * every 5th doc and a footer on every 4th — corpus-repeated spans that
    * whole-document dedup cannot flag.
    */
  private def boilerplateCorpus(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents").select(col("doc_id"),
      concat(
        when(col("doc_id") % 5 === 0,
          concat(lit("standard license header all rights reserved " +
            "worldwide "), col("text"))).otherwise(col("text")),
        when(col("doc_id") % 4 === 0,
          lit(" visit our website for more information today"))
          .otherwise(lit(""))).as("text"))
}
