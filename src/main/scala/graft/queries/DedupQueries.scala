package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.sources.Tables

/** SURVEY §2 group D — the deduplication family over `documents` /
  * `embeddings`. Oracle variants hash shingles to 60-bit md5-derived ids
  * + affine permutations (SURVEY §4 rule 6) — exact integer arithmetic
  * both engines compute identically, with no vocabulary build. The
  * xxhash64 production variants (faster hash, not DuckDB-expressible)
  * are d_minhash_lsh_xx and operators.Dedup's *Xx functions.
  */
object DedupQueries {

  private val toks = TextFunctions.tokensDuck("text")
  private val P = Dedup.P

  /** Shared oracle CTE prefix: tokenize → word n-grams → distinct
    * (doc, shingle) → md5-hashed 60-bit gid (Dedup.hashedIds twin — no
    * vocabulary build in either engine). `from` is any relation with
    * (doc_id, text) — also reused by the composed p_llm_prep oracle. */
  private[queries] def idsCte(n: Int, from: String = "documents"): String = {
    val gram = if (n == 1) "unnest(toks)"
    else {
      val parts = (0 until n).map(k => s"toks[i+${k + 1}]").mkString(" || ' ' || ")
      s"unnest(list_transform(range(0, len(toks)-${n - 1}), i -> $parts))"
    }
    s"""t AS (SELECT doc_id, $toks AS toks FROM $from),
       |sh0 AS (SELECT doc_id AS doc, $gram AS g FROM t WHERE len(toks) >= $n),
       |sh AS (SELECT DISTINCT doc, g FROM sh0),
       |ids AS (SELECT DISTINCT doc, ${graft.operators.Dedup.hashedGidDuck("g")} AS gid FROM sh)""".stripMargin
  }

  /** MinHash(8)+LSH(4×2)+verify oracle fragment over the `ids`/`sizes`
    * CTEs from [[idsCte]]: yields `nd` = verified near-dup pairs (a<b)
    * with jaccard ≥ `threshold`. Shared by d_minhash_lsh and p_llm_prep. */
  private[queries] def minhashVerifyCte(threshold: Double): String = {
    val k = 8
    val minExprs = Dedup.perms(k).zipWithIndex.map { case ((a, b), j) =>
      s"min(($a*(gid % $P) + $b) % $P) AS m$j"
    }.mkString(", ")
    val bandSelects = (0 until 4).map { t =>
      s"SELECT doc, $t AS band, m${2 * t}*$P + m${2 * t + 1} AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""sig AS (SELECT doc, $minExprs FROM ids GROUP BY doc),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.doc AS a, y.doc AS b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc < y.doc),
       |sizes AS (SELECT doc, count(*) AS n FROM ids GROUP BY doc),
       |inter AS (SELECT c.a, c.b, count(*) AS ic
       |          FROM cand c JOIN ids ia ON ia.doc = c.a
       |                      JOIN ids ib ON ib.doc = c.b AND ia.gid = ib.gid
       |          GROUP BY c.a, c.b),
       |nd AS (SELECT a, b,
       |         CAST(ic AS DOUBLE) / CAST(sa.n + sb.n - ic AS DOUBLE) AS jaccard
       |       FROM inter JOIN sizes sa ON a = sa.doc JOIN sizes sb ON b = sb.doc
       |       WHERE CAST(ic AS DOUBLE) / CAST(sa.n + sb.n - ic AS DOUBLE) >= $threshold)""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // D1 — exact dedup by content hash. Run against the corpus doubled so
    // the operator provably collapses duplicates (base corpus is all-unique).
    QueryDef.sql("d_exact_dedup",
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |GROUP BY 1 ORDER BY text_hash""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.exactDedup(docs.unionAll(docs), "text", "doc_id")
        .orderBy("text_hash")
    },

    // D2 — word-trigram Jaccard near-dup pairs ≥ 0.3 (blocking = the
    // shared-shingle join itself). Trigrams are the standard near-dup
    // shingling (D3 uses the same): on this corpus bigrams co-occur so
    // heavily that the candidate join degenerates toward the full
    // quadratic (36M pairs vs 1.3M at sf0.1 — the operator takes any n).
    QueryDef.sql("d_ngram_jaccard",
      s"""WITH ${idsCte(3)},
         |sizes AS (SELECT doc, count(*) AS n FROM ids GROUP BY doc),
         |inter AS (SELECT x.doc AS a, y.doc AS b, count(*) AS ic
         |          FROM ids x JOIN ids y ON x.gid = y.gid AND x.doc < y.doc
         |          GROUP BY 1, 2)
         |SELECT a, b,
         |  CAST(ic AS DOUBLE) / CAST(sa.n + sb.n - ic AS DOUBLE) AS jaccard
         |FROM inter JOIN sizes sa ON a = sa.doc JOIN sizes sb ON b = sb.doc
         |WHERE CAST(ic AS DOUBLE) / CAST(sa.n + sb.n - ic AS DOUBLE) >= 0.3
         |ORDER BY a, b""".stripMargin) { (s, d) =>
      Dedup.jaccardFromOverlap(StagedTables.overlapN3(s, d), 0.3)
        .orderBy("a", "b")
    },

    // D2c — asymmetric containment pairs (c(a→b) = |A∩B|/|A|): the
    // doc-inside-doc detector Jaccard structurally misses — full inclusion
    // of a small doc in a big one scores low symmetric similarity but
    // ~1.0 containment of the small side. Same blocking/candidate
    // machinery as D2 (one bucket scan, longs only), different closing
    // arithmetic; each containment is one double division of exact
    // counts.
    QueryDef.sql("d_containment",
      s"""WITH ${idsCte(3)},
         |sizes AS (SELECT doc, count(*) AS n FROM ids GROUP BY doc),
         |inter AS (SELECT x.doc AS a, y.doc AS b, count(*) AS ic
         |          FROM ids x JOIN ids y ON x.gid = y.gid AND x.doc < y.doc
         |          GROUP BY 1, 2)
         |SELECT a, b,
         |  CAST(ic AS DOUBLE) / sa.n AS c_ab,
         |  CAST(ic AS DOUBLE) / sb.n AS c_ba
         |FROM inter JOIN sizes sa ON a = sa.doc JOIN sizes sb ON b = sb.doc
         |WHERE greatest(CAST(ic AS DOUBLE) / sa.n, CAST(ic AS DOUBLE) / sb.n) >= 0.6
         |ORDER BY a, b""".stripMargin) { (s, d) =>
      Dedup.containmentFromOverlap(StagedTables.overlapN3(s, d), 0.6)
        .orderBy("a", "b")
    },

    // D10 — threshold-tuning curve: pair counts per 0.1 Jaccard band +
    // survivors at each candidate threshold, from the SAME staged
    // candidate table D2/D2c close over (one candidate build, three
    // consumers — the r6-verdict sharing taken one further). This is the
    // curve that picks τ before a corpus-scale dedup run: "0.5 removes
    // 40k pairs, 0.6 removes 9k" read off one report. Bands are integer
    // floor(10·j) on the exact-count ratio; the descending cumulative
    // runs over ≤10 rows.
    QueryDef.sql("d_threshold_curve",
      s"""WITH ${idsCte(3)},
         |sizes AS (SELECT doc, count(*) AS n FROM ids GROUP BY doc),
         |inter AS (SELECT x.doc AS a, y.doc AS b, count(*) AS ic
         |          FROM ids x JOIN ids y ON x.gid = y.gid AND x.doc < y.doc
         |          GROUP BY 1, 2),
         |j AS (SELECT least(CAST(floor(10.0 * ic / (sa.n + sb.n - ic)) AS BIGINT), 9) AS band
         |      FROM inter JOIN sizes sa ON a = sa.doc JOIN sizes sb ON b = sb.doc),
         |g AS (SELECT band, count(*) AS n_pairs FROM j GROUP BY 1)
         |SELECT CAST(band AS DOUBLE) / 10.0 AS threshold, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY band DESC) AS BIGINT) AS n_pairs_ge
         |FROM g ORDER BY threshold""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val j = StagedTables.overlapN3(s, d)
        .select(least(floor(lit(10.0) * col("inter") /
            (col("na") + col("nb") - col("inter"))).cast("long"), lit(9)).as("band"))
      j.groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .select((col("band").cast("double") / 10.0).as("threshold"),
          col("n_pairs"),
          sum("n_pairs").over(Window.orderBy(col("band").desc)).cast("long")
            .as("n_pairs_ge"), col("band"))
        .drop("band")
        .orderBy("threshold")
    },

    // D2 production path — same Jaccard pipeline with the blocking side
    // capped at document frequency ≤ 32: shingles shared by more docs are
    // dropped from candidate GENERATION (not from the Jaccard sizes).
    // On a web-scale corpus high-df shingles make near-quadratic hot
    // buckets while contributing almost no evidence of duplication — the
    // cap bounds every bucket's pair fan-out at maxDf². Recall vs the
    // exact operator is spec'd in DedupSpec on the sf0.001 corpus.
    // Candidate capping isn't SQL-expressible as the same ORDER OF OPS in
    // DuckDB without replicating the bucket pipeline ⇒ rows-only check.
    QueryDef.rowsOnly("d_ngram_jaccard_capped") { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.3,
          maxDf = 32)
        .orderBy("a", "b")
    },

    // D3 — MinHash (8 perms) + LSH (4 bands × 2 rows) candidates, verified
    // by exact Jaccard ≥ 0.5 over 3-gram shingles.
    QueryDef.sql("d_minhash_lsh",
      s"""WITH ${idsCte(3)},
         |${minhashVerifyCte(0.5)}
         |SELECT a, b, jaccard FROM nd ORDER BY a, b""".stripMargin) { (s, d) =>
      // The corpus is hashed ONCE into per-doc shingle-id sets (a pure
      // projection — graft_shingles → graft_gid_set, no explode/agg);
      // the signature (one-pass graft_minhash), banding, and
      // verification all reuse that one table. Since r16 the whole
      // chain is the staged shared nd_pairs table (StagedTables:
      // raw_docsets3 → nd_pairs → nd_comp), built once per JVM and read
      // by five downstream dedup reports.
      StagedTables.ndPairs(s, d).orderBy("a", "b")
    },

    // D6 — near-dup pairs → clusters: connected components over the
    // verified MinHash pairs (same chain as D3), labeling each clustered
    // doc with the min reachable doc id. The oracle replays the D3 pair
    // SQL and closes it transitively with a recursive CTE — a DuckDB
    // recursion vs Spark's iterative label propagation, agreeing row-for-
    // row on clusters, canonicals included.
    QueryDef.sql("d_components",
      s"""WITH RECURSIVE ${idsCte(3)},
         |${minhashVerifyCte(0.5)},
         |edges AS (SELECT a AS u, b AS v FROM nd UNION SELECT b, a FROM nd),
         |walk AS (
         |  SELECT u AS node, u AS reach FROM edges
         |  UNION
         |  SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u)
         |SELECT min(reach) AS cluster_id, node AS doc,
         |       CAST(node = min(reach) AS BIGINT) AS is_canonical
         |FROM walk GROUP BY node ORDER BY cluster_id, doc""".stripMargin) { (s, d) =>
      // pair chain AND label propagation are the staged nd_pairs /
      // nd_comp tables — the cluster assignment is computed once and
      // this query (plus two reports) reads the materialized labels
      StagedTables.ndComponents(s, d)
        .select(col("component").as("cluster_id"), col("doc"),
          (col("doc") === col("component")).cast("long").as("is_canonical"))
        .orderBy("cluster_id", "doc")
    },

    // D8 — corpus duplication report: the one-row summary a dedup run
    // ends with (what fraction of the corpus survives keep-one-per-
    // cluster?). Composes the D3 verified-pair chain and D6's clusters
    // into report arithmetic: docs-in-clusters − clusters = removals.
    // The oracle replays the same chain with the recursive-CTE closure —
    // the whole pipeline hash-gated end to end as ONE number, the
    // strongest composition check the D family has (p_llm_prep's shape
    // applied to reporting).
    QueryDef.sql("d_dedup_report",
      s"""WITH RECURSIVE ${idsCte(3)},
         |${minhashVerifyCte(0.5)},
         |edges AS (SELECT a AS u, b AS v FROM nd UNION SELECT b, a FROM nd),
         |walk AS (
         |  SELECT u AS node, u AS reach FROM edges
         |  UNION
         |  SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         |comp AS (SELECT node, min(reach) AS cluster_id FROM walk GROUP BY node),
         |nd_docs AS (SELECT count(*) AS docs_in_clusters,
         |                   count(DISTINCT cluster_id) AS n_clusters FROM comp),
         |np AS (SELECT count(*) AS n_dup_pairs FROM nd),
         |total AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT total.n_docs, np.n_dup_pairs, nd_docs.docs_in_clusters,
         |  nd_docs.n_clusters,
         |  nd_docs.docs_in_clusters - nd_docs.n_clusters AS n_removed,
         |  CAST(total.n_docs - (nd_docs.docs_in_clusters - nd_docs.n_clusters) AS DOUBLE)
         |    / total.n_docs AS survival_rate
         |FROM total CROSS JOIN np CROSS JOIN nd_docs""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // pairs and cluster labels are the staged nd_pairs / nd_comp
      // tables; the report is arithmetic over those materialized
      // artifacts plus one corpus count
      val pairs = StagedTables.ndPairs(s, d)
      val comp = StagedTables.ndComponents(s, d)
      val clusterStats = comp.agg(count(lit(1)).as("docs_in_clusters"),
        countDistinct(col("component")).as("n_clusters"))
      val np = pairs.agg(count(lit(1)).as("n_dup_pairs"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      total.crossJoin(np).crossJoin(clusterStats)
        .select(col("n_docs"), col("n_dup_pairs"), col("docs_in_clusters"),
          col("n_clusters"),
          (col("docs_in_clusters") - col("n_clusters")).as("n_removed"),
          ((col("n_docs") - (col("docs_in_clusters") - col("n_clusters"))).cast("double")
            / col("n_docs")).as("survival_rate"))
    },

    // D4 — 32-bit SimHash over the distinct-token set; pairs with Hamming
    // distance ≤ 3, candidate join blocked by 8-bit chunks (pigeonhole:
    // 3 differing bits over 4 chunks leave ≥1 chunk identical; 256-value
    // chunk keys keep the buckets thin where 4-bit keys made them fat).
    QueryDef.sql("d_simhash", {
      val bits = 32
      val voteExprs = Dedup.simPerms(bits).zipWithIndex.map { case ((c, dd), j) =>
        s"sum((($c*(gid % $P) + $dd) % $P) % 2 * 2 - 1) AS v$j"
      }.mkString(", ")
      val simExpr = (0 until bits)
        .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      val chunkSelects = (0 until bits / 8).map { t =>
        s"SELECT doc, sim, $t AS blk, (sim >> ${8 * t}) & 255 AS ckey FROM sim"
      }.mkString(" UNION ALL ")
      s"""WITH ${idsCte(1)},
         |sig AS (SELECT doc, $voteExprs FROM ids GROUP BY doc),
         |sim AS (SELECT doc, $simExpr AS sim FROM sig),
         |chunk AS ($chunkSelects),
         |pairs AS (SELECT DISTINCT x.doc AS a, y.doc AS b,
         |                 bit_count(xor(x.sim, y.sim)) AS hamming
         |          FROM chunk x JOIN chunk y
         |            ON x.blk = y.blk AND x.ckey = y.ckey AND x.doc < y.doc)
         |SELECT a, b, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY a, b""".stripMargin
    }) { (s, d) =>
      val docSets = Dedup.hashedDocSets(Tables.documents(s, d), "doc_id", "text", 1)
      Dedup.simHashPairs(Dedup.simHash(docSets, 32), 32, 3)
        .orderBy("a", "b")
    },

    // D4 production path — 64-bit SimHash, xxhash64 doc sets end to end.
    // The 32-bit oracle variant saturates as the corpus grows: at sf0.1
    // it already emits 2.5M hamming≤3 pairs, because 2^32 signatures over
    // a growing corpus collide on near-miss bit patterns and the 8-bit
    // chunk keys (256 values) go quadratic inside hot buckets. 64 bits
    // double the signature entropy and give 16-bit chunk keys (65536
    // values per block — pigeonhole still exact for hamming≤3 over 4
    // blocks), which is the standard web-scale configuration. xxhash64 ⇒
    // not DuckDB-expressible ⇒ rows-only; signature/pair semantics are
    // spec-bound to the oracled 32-bit twin (DedupSpec).
    QueryDef.rowsOnly("d_simhash_64") { (s, d) =>
      val docSets = Dedup.hashedDocSetsXx(Tables.documents(s, d), "doc_id", "text", 1)
      Dedup.simHashPairs(Dedup.simHash(docSets, 64), 64, 3)
        .orderBy("a", "b")
    },

    // D3 production path — same MinHash+LSH pipeline hashed with xxhash64
    // end to end (no md5/hex decode), band keys re-hashed to avoid packing
    // overflow. This is the 100 TB configuration; estimator-free but not
    // DuckDB-expressible (no xxhash64 there) ⇒ rows-only check.
    QueryDef.rowsOnly("d_minhash_lsh_xx") { (s, d) =>
      val docSets = Dedup.hashedDocSetsXx(Tables.documents(s, d), "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docSets.count() // eager fill — see d_minhash_lsh
      val cand = Dedup.lshCandidates(
        Dedup.lshBandsHashed(Dedup.minHashSignatureXx(docSets, 8), 4, 2))
      Dedup.verifiedJaccard(cand, docSets)
        .filter(col("jaccard") >= 0.5)
        .orderBy("a", "b")
    },

    // D5 production path — same near-dup verification blocked by the IVF
    // clustering pre-pass (Similarity.trainIvfCentroids) instead of a
    // GIVEN label column: this is the shape that exists without labeled
    // data. KMeans estimator ⇒ rows-only; subset-of-brute-force is
    // spec'd in SimilaritySpec.
    QueryDef.rowsOnly("d_embed_neardup_ivf") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = SimilarityQueries.centroidsFor(emb, d)
      graft.operators.Similarity.embeddingNearDupPairsIvf(emb, centroids, 0.4)
        .orderBy("a", "b")
    },

    // D7 — edit-distance near-dup pairs: 24-char prefix blocking (capped
    // at 64 docs per block), levenshtein over the 200-char prefixes ≤ 20.
    // Character-level edits complement the token-level MinHash/Jaccard
    // detectors (a doc_a/doc_b typo-dup has high edit similarity even when
    // word shingles shift); integer distance ⇒ exact oracle parity.
    QueryDef.sql("d_fuzzy_levenshtein",
      """WITH p AS (SELECT doc_id, substr(text,1,24) AS blk, substr(text,1,200) AS p200 FROM documents),
        |c AS (SELECT * FROM (SELECT p.*, count(*) OVER (PARTITION BY blk) AS bn FROM p) t WHERE bn <= 64)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, levenshtein(a.p200, b.p200) AS lev
        |FROM c a JOIN c b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.p200, b.p200) <= 20
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      Dedup.levenshteinPairs(Tables.documents(s, d), "doc_id", "text",
          blockPrefix = 24, levPrefix = 200, maxLev = 20, maxBlock = 64)
        .orderBy("doc_a", "doc_b")
    },

    // D12 — prefix-blocked Jaro-Winkler near-dup pairs via the native
    // `graft_jaro_winkler` codegen expression, hash-matched against
    // DuckDB's built-in jaro_winkler_similarity — a cross-engine proof
    // the native implementation reproduces the reference variant
    // (0.7 boost threshold, window max/2−1, prefix cap 4) pair-for-pair.
    QueryDef.sql("d_jaro_winkler",
      """WITH p AS (SELECT doc_id, substr(text,1,12) AS blk, substr(text,1,80) AS p80 FROM documents),
        |c AS (SELECT * FROM (SELECT p.*, count(*) OVER (PARTITION BY blk) AS bn FROM p) t WHERE bn <= 64)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       jaro_winkler_similarity(a.p80, b.p80) AS jw
        |FROM c a JOIN c b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE jaro_winkler_similarity(a.p80, b.p80) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      Dedup.jaroWinklerPairs(Tables.documents(s, d), "doc_id", "text",
          blockPrefix = 12, jwPrefix = 80, minJw = 0.9, maxBlock = 64)
        .orderBy("doc_a", "doc_b")
    },

    // D13a — EXACT source-pair shingle Jaccard (which sources mirror each
    // other at the vocabulary level — D9 asks it of verified doc pairs,
    // this asks it of the sources' whole trigram sets): per-source
    // distinct gid sets, pair overlap grouped per gid; the pair frame is
    // source²-dim. The exact twin D13 estimates.
    //
    // UNIVERSAL-shingle prune (the r9 perf item): a gid present in every
    // source contributes df² = |sources|² pair rows — the worst quadratic
    // row — yet adds exactly +1 to EVERY pair's intersection. So pairs are
    // generated from df < |sources| gids only, and the universal count is
    // added back uniformly over the full pair frame (closed-form exact;
    // df = |sources|−1 and below can't be corrected this way and stay in).
    // Same output bit-for-bit — the oracle brute-forces the unpruned form.
    // At 100 TB this is the boilerplate guard: web-corpus trigram dfs are
    // Zipfian and the top of the curve is exactly what this drops.
    //
    // r11 rework of the r10 perf-weak row (2.63 s vs DuckDB 0.78): the old
    // plan recomputed the (source, gid) frame — a full shingle explode +
    // distinct over the corpus — once per consumer (sizes, df, and twice
    // in the gid self-join), and shuffled the pruned frame twice more
    // through that join. Now the corpus is scanned once and shuffled ONCE,
    // on gid, straight into the per-gid source-set aggregate (collect_set
    // absorbs the old DISTINCT — partial sets dedup map-side and are
    // |sources|-bounded per gid, dims not data), which is persisted at
    // vocabulary size; per-source sizes, the universal-gid count and the
    // a<b combination explode (map-side into the source²-dim pair count)
    // all read that one cached frame. Everything past the pair count is
    // source²-dim REPORT assembly and runs on the driver — the old plan
    // re-scanned the cache five more times through crossJoin/broadcast
    // plumbing to join 190 rows. The oracle brute-forces the unpruned
    // self-join form; output is bit-identical (driver division is the
    // same one IEEE op the oracle's CAST/divide performs).
    QueryDef.sql("d_source_similarity",
      s"""WITH ${DedupQueries.idsCte(3)},
         |ids2 AS (SELECT DISTINCT dd.source, ids.gid
         |         FROM ids JOIN documents dd ON dd.doc_id = ids.doc),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ids2 GROUP BY 1),
         |ov AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS ic
         |       FROM ids2 a JOIN ids2 b ON a.gid = b.gid AND a.source < b.source
         |       GROUP BY 1, 2)
         |SELECT src_a, src_b, ic, sa.n AS na, sb.n AS nb,
         |  CAST(ic AS DOUBLE) / (sa.n + sb.n - ic) AS jaccard
         |FROM ov JOIN sz sa ON src_a = sa.source JOIN sz sb ON src_b = sb.source
         |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      // r16: the shingle → gid-set pass is the staged raw_docsets3 table
      // (the dedup chain's base — identical expression:
      // graft_gid_set(graft_shingles(text, 3)) keyed by doc). Re-deriving
      // it here cost the whole corpus tokenize again (sf10: ~35 s of the
      // 40 s wall); the staged read + a slim (doc_id, source) dim join is
      // doc-grain. The empty-set filter raw_docsets3 carries is a no-op
      // under explode, so the (source, gid) multiset is unchanged.
      val byGid = StagedTables.rawDocSets3(s, d)
        .join(docs.select(col("doc_id").as("doc"), col("source")), "doc")
        .select(col("source"), explode(col("gs")).as("gid"))
        .groupBy("gid").agg(collect_set(col("source")).as("srcs"))
        .persist()                                    // vocabulary-sized
      // per-source distinct-gid sizes: one cached-scan agg, source-dim
      val sizes = byGid.select(explode(col("srcs")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val nsrc = sizes.size
      val uni = byGid.filter(size(col("srcs")) === nsrc).count()
      val icp = byGid
        .filter(size(col("srcs")) < nsrc && size(col("srcs")) >= 2)
        .select(explode(expr(
          """filter(flatten(transform(srcs, x -> transform(srcs,
            |  y -> struct(x AS src_a, y AS src_b)))),
            |p -> p.src_a < p.src_b)""".stripMargin)).as("p"))
        .groupBy("p.src_a", "p.src_b").agg(count(lit(1)).as("icp"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // full source-pair frame (source²-dim report, driver-assembled): a
      // pair whose every shared shingle is universal must still surface
      val srcs = sizes.keys.toSeq.sorted
      val rows = for {
        a <- srcs; b <- srcs if a < b
        ic = icp.getOrElse((a, b), 0L) + uni
        if ic > 0
      } yield (a, b, ic, sizes(a), sizes(b),
        ic.toDouble / (sizes(a) + sizes(b) - ic))
      rows.toDF("src_a", "src_b", "ic", "na", "nb", "jaccard")
        .orderBy("src_a", "src_b")
    },

    // D13 — source-pair Jaccard ESTIMATED from per-source MERGED MinHash
    // signatures via the native `graft_minhash_agg` TypedImperativeAggregate
    // (functions/MinHashAgg.scala): one partial-agg pass folds every doc's
    // gid set into a k=128 source signature map-side (merge = elementwise
    // min — associative, so the partial/final/AQE merge tree is free), and
    // every pairwise similarity is signature algebra over the source-dim
    // table. THE 100 TB shape for D13a's question: signatures are stored
    // once (the A13x rollup argument for Jaccard), the text is scanned
    // once, and no gid ever crosses the wire. Estimator ⇒ rows-only;
    // SketchExprSpec pins the estimate inside the MinHash error envelope
    // of D13a's exact values and the merge tree's partitioning-invariance.
    QueryDef.rowsOnly("d_source_sim_est") { (s, d) =>
      val docs = Tables.documents(s, d)
      val sigs = StagedTables.rawDocSets3(s, d)
        .join(docs.select(col("doc_id").as("doc"), col("source")), "doc")
        .groupBy("source")
        .agg(expr("graft_minhash_agg(gs, 128)").as("sig"))
      val a = sigs.select(col("source").as("src_a"), col("sig").as("sa"))
      val b = sigs.select(col("source").as("src_b"), col("sig").as("sb"))
      a.join(b, col("src_a") < col("src_b")) // source²-dim pair frame
        .select(col("src_a"), col("src_b"),
          (expr("aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)")
            .cast("double") / 128.0).as("jaccard_est"))
        .orderBy("src_a", "src_b")
    },

    // D5 — embedding-cosine near-dup pairs ≥ 0.4, blocked by cluster label.
    QueryDef.sql("d_embed_neardup", {
      val cos = graft.functions.VectorFunctions.cosineDuck("x.embedding", "y.embedding")
      s"""SELECT x.vec_id AS a, y.vec_id AS b, $cos AS cos
         |FROM embeddings x JOIN embeddings y
         |  ON x.label = y.label AND x.vec_id < y.vec_id
         |WHERE $cos >= 0.4
         |ORDER BY a, b""".stripMargin
    }) { (s, d) =>
      graft.operators.Similarity
        .embeddingNearDupPairs(Tables.embeddings(s, d), "label", 0.4)
        .orderBy("a", "b")
    },

    // D9 — duplication structure BY SOURCE: the curation diagnostic that
    // decides WHERE dedup effort goes ("src3 mirrors src7" vs "src5
    // re-posts itself"). Reuses the D3 verified-pair chain, then joins
    // each endpoint to the slim (doc_id, source) dim — broadcast at any
    // corpus scale — and rolls up by the UNORDERED source pair
    // (least/greatest canonicalization). Mean jaccard per source pair is
    // a few-term double average — engine-stable at the 9-digit gate.
    QueryDef.sql("d_dup_rate_by_source",
      s"""WITH ${idsCte(3)},
         |${minhashVerifyCte(0.5)},
         |sp AS (SELECT nd.a, nd.b, nd.jaccard,
         |         da.source AS sa, db.source AS sb
         |       FROM nd JOIN documents da ON da.doc_id = nd.a
         |               JOIN documents db ON db.doc_id = nd.b)
         |SELECT least(sa, sb) AS source_1, greatest(sa, sb) AS source_2,
         |  count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(jaccard ORDER BY a, b)), (x, y) -> x + y) / count(*) AS mean_jaccard
         |FROM sp GROUP BY 1, 2 ORDER BY n_pairs DESC, source_1, source_2""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // the verified-pair chain is the staged shared nd_pairs table
      val nd = StagedTables.ndPairs(s, d)
      val dim = docs.select(col("doc_id"), col("source"))
      val sp = nd
        .join(broadcast(dim.select(col("doc_id").as("a"), col("source").as("sa"))), "a")
        .join(broadcast(dim.select(col("doc_id").as("b"), col("source").as("sb"))), "b")
      sp.groupBy(least(col("sa"), col("sb")).as("source_1"),
          greatest(col("sa"), col("sb")).as("source_2"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sa") === col("sb"), 1).otherwise(0)).cast("long").as("n_within"),
          // (a, b)-PINNED double fold (B84 rule), not a bare sum(jaccard):
          // groups hold several pairs from sf0.1 up, and the two engines'
          // accumulation orders diverged by 1-2 ulp exactly there (caught
          // by the r11 full sf0.1 sweep). Groups are verified-near-dup
          // pairs per source pair — report-sized for any sane dup rate.
          (expr("aggregate(array_sort(collect_list(struct(a, b, jaccard))), " +
            "CAST(0 AS DOUBLE), (acc, p) -> acc + p.jaccard)") /
            count(lit(1))).as("mean_jaccard"))
        .orderBy(col("n_pairs").desc, col("source_1"), col("source_2"))
    },

    // D11 — substring-window dedup (the Lee et al. exact-substring idea
    // at window granularity): docs sharing any CONTENT-ANCHORED 64-char
    // window hash are near-dup candidates, scored by shared-window
    // count — the copied-PARAGRAPH detector whole-doc MinHash (D3)
    // dilutes away. Anchoring is content-defined (CDC-chunking style): a
    // window starts wherever md5 of the local 8-gram begins with '0'
    // (expected every 16 chars), so a duplicated span places its anchors
    // at the SAME content positions in both docs — a fixed stride would
    // only collide when both copies happen to share alignment phase.
    // Scale shape: the window hash IS the blocking key (equi-join, never
    // all-pairs); the anchor scan is a projection-only per-char fan-out
    // (a native one-pass byte-scan expression is the production path,
    // graft_shingles' pattern); hot boilerplate windows get the D2x
    // df-cap in production. The oracle's offset range is a constant that
    // must dominate max doc length (4096 ≫ 553 here); the Spark side
    // derives offsets from each doc's own length — same set, because
    // o > len-63 contributes nothing.
    QueryDef.sql("d_substring_dedup",
      """WITH w AS (
        |  SELECT DISTINCT doc_id, md5(substr(text, CAST(o AS INTEGER), 64)) AS h
        |  FROM documents CROSS JOIN unnest(range(1, 4096)) AS g(o)
        |  WHERE len(text) >= o + 63
        |    AND md5(substr(text, CAST(o AS INTEGER), 8)) LIKE '0%')
        |SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
        |FROM w x JOIN w y USING (h) WHERE x.doc_id < y.doc_id
        |GROUP BY 1, 2 ORDER BY a, b""".stripMargin) { (s, d) =>
      // graft_cdc_windows = the declarative explode→filter→md5 chain in
      // one compiled byte-scan (bit-identity spec'd in ShingleExprSpec):
      // only surviving anchor hashes fan out, not one row per character.
      // The docsSpread read runs the CDC byte-scan wide (r16: the
      // single-row-group corpus file ran the whole 49 CPU-s pass in ONE
      // task). r17 (§2.4 "two operations keyed the same way share one
      // exchange"): ONE repartition by h serves BOTH the (doc_id, h)
      // distinct (hash(h) clusters every (doc_id, h) group) and the
      // h-keyed self-join — the r16 plan exchanged the window fan-out
      // once for the distinct and then re-shuffled both join inputs by h,
      // three data-scale exchanges where one suffices.
      val w = StagedTables.docsSpread(s, d)
        .select(col("doc_id"),
          explode(expr("graft_cdc_windows(text, 64, 8)")).as("h"))
        .repartition(col("h"))
        .dropDuplicates("doc_id", "h")
        .persist()
      val xa = w.select(col("h"), col("doc_id").as("a"))
      val xb = w.select(col("h"), col("doc_id").as("b"))
      xa.join(xb, "h").filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
        .orderBy("a", "b")
    },

    // D14 — survivor selection per duplicate cluster: the step a real
    // dedup pipeline runs AFTER D6's components — which copy do we KEEP?
    // Policy here: longest text wins, doc_id breaks ties (content-aware,
    // unlike D6's min-id canonical flag). One join from the
    // cluster-assignment frame to the documents dim for n_chars, then a
    // single per-cluster rank window over the cluster-sized frame (the
    // windows run over component assignments, never raw text). Emits the
    // per-cluster keep decision plus the size accounting a removal
    // report needs.
    QueryDef.sql("d_survivor_pick",
      s"""WITH RECURSIVE ${idsCte(3)},
         |${minhashVerifyCte(0.5)},
         |edges AS (SELECT a AS u, b AS v FROM nd UNION SELECT b, a FROM nd),
         |walk AS (
         |  SELECT u AS node, u AS reach FROM edges
         |  UNION
         |  SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         |comp AS (SELECT min(reach) AS cluster_id, node AS doc FROM walk GROUP BY node),
         |j AS (SELECT c.cluster_id, c.doc, d.n_chars
         |      FROM comp c JOIN documents d ON d.doc_id = c.doc),
         |r AS (SELECT cluster_id, doc, n_chars,
         |        row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY n_chars DESC, doc) AS rn,
         |        count(*) OVER (PARTITION BY cluster_id) AS n_members,
         |        sum(n_chars) OVER (PARTITION BY cluster_id) AS total_chars
         |      FROM j)
         |SELECT cluster_id, doc AS survivor_doc, n_chars AS survivor_chars,
         |  CAST(n_members AS BIGINT) AS n_members,
         |  CAST(total_chars AS BIGINT) AS total_chars
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // cluster labels are the staged nd_comp table (chain built once)
      val comp = StagedTables.ndComponents(s, d)
        .select(col("component").as("cluster_id"), col("doc"))
      val j = comp.join(docs.select(col("doc_id").as("doc"), col("n_chars")), "doc")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("cluster_id")
      j.select(col("cluster_id"), col("doc"), col("n_chars"),
          row_number().over(w.orderBy(col("n_chars").desc, col("doc"))).as("rn"),
          count(lit(1)).over(w).as("n_members"),
          sum("n_chars").over(w).as("total_chars"))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc").as("survivor_doc"),
          col("n_chars").as("survivor_chars"),
          col("n_members").cast("long").as("n_members"),
          col("total_chars").cast("long").as("total_chars"))
        .orderBy("cluster_id")
    }
  )
}
