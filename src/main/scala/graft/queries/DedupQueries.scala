package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.DedupOps

/** SURVEY.md §2c — near-duplicate detection over `documents` and
  * `embeddings`: each capability pairs a [[graft.operators.DedupOps]]
  * DataFrame operator (the library surface) with its DuckDB oracle.
  * The verify dump reports the top-K most similar pairs
  * (deterministically ordered) so results are non-empty even on a
  * corpus with no true near-dups.
  */
object DedupQueries {

  private val TopK = 50

  val all: Seq[QueryDef] = Seq(

    // dd67 (round 4): benchmark decontamination — flag every training
    // doc sharing a word k-shingle with the eval set (the n-gram
    // overlap rule every serious corpus applies before training).
    // Eval set = doc_id % 53 = 0 (a deterministic stand-in for a held-
    // out benchmark); k=4 demonstrates overlap on this tiny synthetic
    // vocabulary (production uses 8-13). Spark joins on FNV shingle
    // hashes (the dd35 stand-in contract: counts agree barring ~2^-64
    // collisions) with the tiny eval side BROADCAST — the 100 TB train
    // side never shuffles before the contaminated-only aggregation.
    QueryDef.sql(
      "dd_decontaminate", {
        import OracleSql._
        s"""WITH t AS (
           |  SELECT doc_id, ${tokens("text")} AS w FROM documents
           |), sh AS (
           |  SELECT doc_id, ${shinglesK("w", 4)} AS s,
           |    doc_id % 53 = 0 AS is_eval
           |  FROM t
           |), ev AS (
           |  SELECT unnest(s) AS shingle, doc_id AS eval_doc FROM sh WHERE is_eval
           |), tr AS (
           |  SELECT doc_id, unnest(s) AS shingle FROM sh WHERE NOT is_eval
           |)
           |SELECT tr.doc_id,
           |  CAST(count(DISTINCT tr.shingle) AS BIGINT) AS n_shared_shingles,
           |  CAST(count(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
           |FROM tr JOIN ev USING (shingle)
           |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      DedupOps.decontaminate(Tables.load(s, dir, "documents"),
          isEval = pmod(col("doc_id"), lit(53)) === 0, k = 4)
        .orderBy("doc_id")
    },

    // dd97 (round 5): Bloom-filter decontamination pre-filter — the
    // at-scale front half of dd_decontaminate. The eval side folds
    // into a 2^17-bit bitmap (one bit_or aggregation, 16 KB); the
    // train side probes it scan-locally (no join/shuffle/broadcast),
    // and only bloom-POSITIVE shingles reach the exact verification
    // join. Output separates n_candidate (bloom-positive) from n_true
    // (exact) per doc, so the false-positive traffic is visible and
    // itself hash-checked: the oracle rebuilds the identical bitmap —
    // FNV-64 shingle hash, splitmix64 double-hash step, power-of-two
    // mod — in HUGEINT arithmetic and must reproduce every FP.
    QueryDef.sql(
      "dd_bloom", {
        import OracleSql._
        val mBits = 1 << 17
        val (smCtes, smLast) = splitmixCtes("sx", "u0", Seq("h"), "bm")
        s"""WITH t AS (
           |  SELECT doc_id, ${tokens("text")} AS w FROM documents
           |), shs AS MATERIALIZED (
           |  SELECT doc_id, doc_id % 53 = 0 AS is_eval,
           |    list_distinct(${shinglesK("w", 4)}) AS s
           |  FROM t
           |), hh AS MATERIALIZED (
           |  SELECT doc_id, is_eval, ${toSigned(fnv1a64Unsigned("sg"))} AS h
           |  FROM (SELECT doc_id, is_eval, unnest(s) AS sg FROM shs)
           |), hd AS (
           |  SELECT DISTINCT h FROM hh
           |), sx AS MATERIALIZED (
           |  SELECT h, ${toUnsigned("h")} AS u0 FROM hd
           |),
           |$smCtes,
           |hp AS MATERIALIZED (
           |  SELECT h, CAST(z5 AS HUGEINT) AS g FROM $smLast
           |), pos AS MATERIALIZED (
           |  SELECT hh.doc_id, hh.is_eval, hh.h, i.i AS i,
           |    CAST((${toUnsigned("hh.h")} + CAST(i.i AS HUGEINT) * hp.g)
           |      % $mBits AS INT) AS pos
           |  FROM hh JOIN hp USING (h), (SELECT unnest(range(3)) AS i) i
           |), bloom AS MATERIALIZED (
           |  SELECT pos // 64 AS w,
           |    bit_or(CAST(1 AS HUGEINT) << (pos % 64)) AS word
           |  FROM pos WHERE is_eval GROUP BY pos // 64
           |), probe AS MATERIALIZED (
           |  SELECT p.doc_id, p.h, count(*) AS hits
           |  FROM (SELECT * FROM pos WHERE NOT is_eval) p
           |  JOIN bloom b ON p.pos // 64 = b.w
           |    AND (b.word & (CAST(1 AS HUGEINT) << (p.pos % 64))) <> 0
           |  GROUP BY p.doc_id, p.h
           |), ev AS (
           |  SELECT DISTINCT h FROM hh WHERE is_eval
           |), cand AS (
           |  SELECT pr.doc_id, pr.h, ev.h IS NOT NULL AS is_true
           |  FROM probe pr LEFT JOIN ev ON pr.h = ev.h WHERE pr.hits = 3
           |)
           |SELECT doc_id,
           |  CAST(count(DISTINCT h) AS BIGINT) AS n_candidate_shingles,
           |  CAST(count(DISTINCT CASE WHEN is_true THEN h END) AS BIGINT)
           |    AS n_true_shingles
           |FROM cand GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      DedupOps.bloomDecontaminate(Tables.load(s, dir, "documents"),
          isEval = pmod(col("doc_id"), lit(53)) === 0, k = 4)
        .orderBy("doc_id")
    },

    // dd77 (round 5): URL canonicalization dedup — group a crawl by
    // canonical URL after stripping scheme/www/default-port/fragment/
    // tracking-params/trailing-slash (host lowercased, path case
    // preserved). The fixture derives four messy variants of the same
    // page per base id closed-form from doc_id, so the oracle replays
    // the full normalize+group pipeline; at corpus scale the
    // normalization is scan-local column work and the only shuffle is
    // the canonical-key groupBy.
    QueryDef.sql(
      "dd_url",
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN 'https://Example' || (doc_id // 4) || '.com/Path/' || (doc_id // 4)
        |      WHEN 1 THEN 'http://www.example' || (doc_id // 4) || '.com:80/Path/' || (doc_id // 4) || '/'
        |      WHEN 2 THEN 'https://EXAMPLE' || (doc_id // 4) || '.COM/Path/' || (doc_id // 4) || '#frag'
        |      ELSE 'https://example' || (doc_id // 4) || '.com/Path/' || (doc_id // 4) || '?utm_source=x&utm_c=y'
        |    END AS url
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(url, '^https?://', ''), '^www\.', '') AS s
        |  FROM u),
        |h AS (SELECT doc_id, s, instr(s, '/') AS p FROM n),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(CASE WHEN p > 0 THEN substr(s, 1, p - 1) ELSE s END), ':(80|443)$', '')
        |    || regexp_replace(regexp_replace(regexp_replace(
        |         CASE WHEN p > 0 THEN substr(s, p) ELSE '' END,
        |         '#.*$', ''), '\?utm[^#]*$', ''), '/$', '') AS canonical_url
        |  FROM h)
        |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_dupes, MIN(doc_id) AS keeper
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin) { (s, dir) =>
      val base = expr("doc_id div 4").cast("string")
      val v = pmod(col("doc_id"), lit(4)).cast("int")
      val url =
        when(v === 0, concat(lit("https://Example"), base, lit(".com/Path/"), base))
          .when(v === 1, concat(lit("http://www.example"), base, lit(".com:80/Path/"), base, lit("/")))
          .when(v === 2, concat(lit("https://EXAMPLE"), base, lit(".COM/Path/"), base, lit("#frag")))
          .otherwise(concat(lit("https://example"), base, lit(".com/Path/"), base, lit("?utm_source=x&utm_c=y")))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), DedupOps.canonicalUrl(col("url")).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_dupes"), min(col("doc_id")).as("keeper"))
        .orderBy("canonical_url")
    },

    // dd88 (round 5): paragraph/chunk-level dedup (the CCNet/
    // RefinedWeb stage): segments duplicated ACROSS docs are removed,
    // the rest of each doc survives. kept_md5 fingerprints the
    // surviving text itself (ta_pii discipline: the removal is
    // verified, not just counted). Spark shuffles 8-byte FNV chunk
    // hashes for the corpus-wide count; the oracle groups literal
    // chunks (the dd35 stand-in contract) and rebuilds the kept text
    // with an ordered string_agg.
    QueryDef.sql(
      "dd_para", {
        import OracleSql._
        val w = 10
        s"""WITH t AS (
           |  SELECT doc_id, ${tokens("text")} AS w FROM documents
           |), c0 AS (
           |  SELECT doc_id, w,
           |    unnest(range(0, (len(w) + ${w - 1}) // $w)) AS pos
           |  FROM t WHERE len(w) >= 1
           |), c AS (
           |  SELECT doc_id, pos,
           |    array_to_string(w[(pos*$w + 1):(pos*$w + $w)], ' ') AS chunk
           |  FROM c0
           |), d AS (
           |  SELECT chunk, count(DISTINCT doc_id) AS nd FROM c GROUP BY chunk
           |), j AS (
           |  SELECT c.doc_id, c.pos, c.chunk, d.nd FROM c JOIN d USING (chunk)
           |)
           |SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           |  md5(string_agg(CASE WHEN nd = 1 THEN chunk END, ' ' ORDER BY pos)) AS kept_md5
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      DedupOps.chunkDedup(Tables.load(s, dir, "documents"), w = 10)
        .orderBy("doc_id")
    },

    // dd83 (round 5): exact shared-substring pairs (ExactSubstr, Lee
    // et al. '22) — longest shared k-token span + matched-gram count
    // per doc pair, via positional FNV k-grams, a boilerplate cap
    // BEFORE pair generation, and the gaps-and-islands run detection
    // on (pair, diagonal) windows. The oracle joins literal grams
    // where Spark joins their FNV-64 hashes (the dd35 stand-in
    // contract) and replays the same islands window; top-50 pairs by
    // (span desc, doc_a, doc_b) — a total order, so LIMIT is
    // deterministic.
    QueryDef.sql(
      "dd_span", {
        import OracleSql._
        val k = 8
        val gram = (0 until k).map(j => s"w[i+$j]").mkString(" || ' ' || ")
        s"""WITH t AS (
           |  SELECT doc_id, ${tokens("text")} AS w FROM documents
           |), sh AS (
           |  SELECT doc_id,
           |    list_transform(range(1, len(w) - ${k - 2}), i -> $gram) AS s
           |  FROM t WHERE len(w) >= $k
           |), g AS (
           |  SELECT doc_id, unnest(range(1, len(s) + 1)) AS p,
           |    unnest(s) AS gram
           |  FROM sh
           |), keep AS (
           |  SELECT gram FROM g GROUP BY gram
           |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50
           |), m AS (
           |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
           |    l.p AS pa, l.p - r.p AS d
           |  FROM g l JOIN g r ON l.gram = r.gram AND l.doc_id < r.doc_id
           |  JOIN keep k ON k.gram = l.gram
           |), runs AS (
           |  SELECT doc_a, doc_b, d,
           |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, d
           |                            ORDER BY pa) AS grp
           |  FROM m
           |), agg AS (
           |  SELECT doc_a, doc_b, d, grp, count(*) AS run
           |  FROM runs GROUP BY 1, 2, 3, 4
           |)
           |SELECT doc_a, doc_b,
           |  CAST(max(run) + ${k - 1} AS BIGINT) AS longest_span_tokens,
           |  CAST(sum(run) AS BIGINT) AS n_matched_grams
           |FROM agg GROUP BY doc_a, doc_b
           |ORDER BY longest_span_tokens DESC, doc_a, doc_b
           |LIMIT $TopK""".stripMargin
      }) { (s, dir) =>
      DedupOps.spanPairs(Tables.load(s, dir, "documents"),
          k = 8, maxDocsPerSpan = 50)
        .orderBy(col("longest_span_tokens").desc, col("doc_a"), col("doc_b"))
        .limit(TopK)
    },

    // dd33: MinHash + LSH banding (64 perms, 16 bands × 4 rows) →
    // bucket join → exact Jaccard verify on candidates only. 16 bands
    // of 4 catch Jaccard≥0.8 pairs with p≥0.996 at half the signature
    // cost of 128 perms (the hash fan-out dominates this operator).
    // Oracle-checked end-to-end: shingle FNV, the 64 splitmix64
    // permutation mins, band fold, candidate join and Jaccard ranks
    // are replayed exactly in DuckDB (wrapping arithmetic in HUGEINT,
    // permutation seeds embedded as literals — see OracleSql).
    QueryDef.sql(
      "dd_minhash_lsh", {
        import OracleSql._
        s"""WITH toks AS (
           |  SELECT doc_id, ${tokens("text")} AS t FROM documents
           |), sh AS (
           |  SELECT doc_id, ${shingles3("t")} AS sh FROM toks
           |), ${minhashBandCtes("sh", 64, 4)}, pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bk a JOIN bk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
           |)
           |SELECT p.doc_a, p.doc_b,
           |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
           |    / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
           |FROM pairs p
           |JOIN sh x ON x.doc_id = p.doc_a
           |JOIN sh y ON y.doc_id = p.doc_b
           |ORDER BY jaccard DESC, doc_a, doc_b LIMIT $TopK""".stripMargin
      }) { (s, dir) =>
      DedupOps.minhashPairs(Tables.load(s, dir, "documents"), 64, 4)
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(TopK)
    },

    // dd_minhash_est (round 7): the estimation-accuracy eval for the
    // MinHash pipeline — exact shingle-set Jaccard next to the
    // signature estimate (fraction of agreeing components) for the
    // same LSH candidate pairs. E[est] = J is the property that lets
    // a 100 TB dedup verify pairs on O(numPerms) signatures instead
    // of shipping both shingle SETS; n/64 is exact in doubles so the
    // comparison hash-matches cross-engine (full splitmix64 signature
    // replay in the oracle).
    QueryDef.sql(
      "dd_minhash_est", {
        import OracleSql._
        s"""WITH toks AS (
           |  SELECT doc_id, ${tokens("text")} AS t FROM documents
           |), sh AS (
           |  SELECT doc_id, ${shingles3("t")} AS sh FROM toks
           |), ${minhashBandCtes("sh", 64, 4)}, pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bk a JOIN bk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
           |), est AS (
           |  SELECT p.doc_a, p.doc_b,
           |    CAST(SUM(CASE WHEN sa.c = sb.c THEN 1 ELSE 0 END) AS DOUBLE) / 64 AS est_jaccard
           |  FROM pairs p
           |  JOIN sig sa ON sa.doc_id = p.doc_a
           |  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.p = sa.p
           |  GROUP BY p.doc_a, p.doc_b
           |)
           |SELECT e.doc_a, e.doc_b,
           |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
           |    / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS exact_jaccard,
           |  e.est_jaccard
           |FROM est e
           |JOIN sh x ON x.doc_id = e.doc_a
           |JOIN sh y ON y.doc_id = e.doc_b
           |ORDER BY exact_jaccard DESC, doc_a, doc_b LIMIT $TopK""".stripMargin
      }) { (s, dir) =>
      DedupOps.minhashEstPairs(Tables.load(s, dir, "documents"), 64, 4)
        .orderBy(col("exact_jaccard").desc, col("doc_a"), col("doc_b")).limit(TopK)
    },

    // dd_incremental (round 8): INCREMENTAL dedup — the realistic
    // daily shape at 100 TB: the "new batch" (doc_id % 7 = 0, a
    // deterministic stand-in for today's arrivals) dedups against a
    // PERSISTED signature store built once for the rest of the corpus
    // (memoized under target/scratch/sigstore, staleness-guarded like
    // every scratch layout). The base corpus is never re-shingled, the
    // store never shuffles (band index streamed against a BROADCAST of
    // the batch's band keys), base×base pairs are structurally
    // impossible, and verification is by signature estimate — the
    // dd_minhash_est-justified at-scale contract. The oracle computes
    // the same answer the opposite way: full-corpus MinHash replay,
    // pairs restricted to ≥1 batch endpoint — so the hash match
    // cross-validates the incremental path against the monolithic one
    // every run.
    QueryDef.sql(
      "dd_incremental", {
        import OracleSql._
        s"""WITH toks AS (
           |  SELECT doc_id, ${tokens("text")} AS t FROM documents
           |), sh AS (
           |  SELECT doc_id, ${shingles3("t")} AS sh FROM toks
           |), ${minhashBandCtes("sh", 64, 4)}, pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bk a JOIN bk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
           |  WHERE a.doc_id % 7 = 0 OR b.doc_id % 7 = 0
           |)
           |SELECT p.doc_a, p.doc_b,
           |  CAST(SUM(CASE WHEN sa.c = sb.c THEN 1 ELSE 0 END) AS DOUBLE) / 64
           |    AS est_jaccard,
           |  (p.doc_a % 7 <> 0 OR p.doc_b % 7 <> 0) AS vs_base
           |FROM pairs p
           |JOIN sig sa ON sa.doc_id = p.doc_a
           |JOIN sig sb ON sb.doc_id = p.doc_b AND sb.p = sa.p
           |GROUP BY p.doc_a, p.doc_b
           |ORDER BY est_jaccard DESC, doc_a, doc_b LIMIT $TopK""".stripMargin
      }) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val store = signatureStore(s, dir,
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 0))
      DedupOps.incrementalPairs(store,
          docs.filter(pmod(col("doc_id"), lit(7)) === 0))
        .orderBy(col("est_jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(TopK)
    },

    // dd61: duplicate clusters — connected components over the
    // MinHash-verified (Jaccard >= 0.8) pair graph, so transitive
    // near-dups collapse to one keeper. Spark side: distributed
    // min-label propagation (DedupOps.duplicateClusters); oracle:
    // DuckDB WITH RECURSIVE transitive closure + min-root per node.
    QueryDef.sql(
      "dd_cluster", {
        import OracleSql._
        s"""WITH RECURSIVE toks AS (
           |  SELECT doc_id, ${tokens("text")} AS t FROM documents
           |), sh AS (
           |  SELECT doc_id, ${shingles3("t")} AS sh FROM toks
           |), ${minhashBandCtes("sh", 64, 4)}, cand AS (
           |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
           |  FROM bk a JOIN bk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT c.a, c.b FROM cand c
           |  JOIN sh x ON x.doc_id = c.a
           |  JOIN sh y ON y.doc_id = c.b
           |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
           |    / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8
           |), bidir AS (
           |  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
           |), reach AS (
           |  SELECT DISTINCT a AS doc_id, a AS root FROM bidir
           |  UNION
           |  SELECT e.b AS doc_id, r.root FROM reach r JOIN bidir e ON e.a = r.doc_id
           |), cc AS (
           |  SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id
           |)
           |SELECT cc.doc_id, cc.cluster_id,
           |  CAST(n.cluster_size AS BIGINT) AS cluster_size
           |FROM cc JOIN (
           |  SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id
           |) n USING (cluster_id)
           |ORDER BY cc.doc_id""".stripMargin
      }) { (s, dir) =>
      val pairs = DedupOps.minhashPairs(Tables.load(s, dir, "documents"), 64, 4)
        .filter(col("jaccard") >= 0.8)
      DedupOps.duplicateClusters(pairs).orderBy("doc_id")
    },

    // dd34: SimHash (native Catalyst expression) + Hamming distance via
    // 4×16-bit band bucketing; near-dup = small bit_count(xor).
    // Oracle-checked end-to-end: the FNV-1a token hash, bit votes,
    // band keys and hamming cut are all replayed exactly in DuckDB
    // (wrapping 64-bit arithmetic via HUGEINT — see OracleSql).
    QueryDef.sql(
      "dd_simhash",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${OracleSql.tokens("text")}) AS t FROM documents
         |), th AS (
         |  SELECT doc_id, ${OracleSql.toSigned("hu")} AS h
         |  FROM (SELECT doc_id, ${OracleSql.fnv1a64Unsigned("t")} AS hu FROM tok)
         |), sig AS (
         |  ${OracleSql.simhashFromHashes}
         |), keyed AS (
         |  SELECT doc_id, sig,
         |    concat(b, ':', CAST((sig >> (b*16)) & 65535 AS VARCHAR)) AS bkey
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
         |FROM pairs ORDER BY hamming, doc_a, doc_b LIMIT $TopK""".stripMargin) { (s, dir) =>
      // 4 bands of 16 bits: docs within Hamming distance 3 share >=1 band
      DedupOps.simhashPairs(Tables.load(s, dir, "documents"), bands = 4)
        .orderBy(col("hamming"), col("doc_a"), col("doc_b")).limit(TopK)
    },

    // dd35: n-gram Jaccard similarity join — EXACT at threshold τ via
    // prefix filtering (All-Pairs/PPJoin, Bayardo et al. '07): rank
    // each doc's shingles by a global (df asc, shingle) order and key
    // on the first |sh| - ⌈τ·|sh|⌉ + 1 of them; any pair with
    // J ≥ τ must share a prefix key, so candidates are complete and
    // the verified result equals the all-pairs join. Rarest-first
    // keying keeps buckets small (a corpus-common shingle lands in a
    // prefix only when a doc has almost nothing rarer). Size and
    // positional filters then cut candidates ~3x, so verification
    // attaches the two shingle arrays per SURVIVING candidate only —
    // candidate volume, not the corpus, sizes that join.
    QueryDef.sql(
      "dd_ngram_jaccard", {
        val sh = OracleSql.shingles3("t")
        s"""WITH toks AS (
           |  SELECT doc_id, ${OracleSql.tokens("text")} AS t FROM documents
           |), sh AS (
           |  SELECT doc_id, $sh AS sh FROM toks
           |)
           |SELECT * FROM (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
           |) WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
      }) { (s, dir) =>
      DedupOps.ngramJaccardJoin(Tables.load(s, dir, "documents"), tau = 0.5)
        .orderBy("doc_a", "doc_b")
    },

    // dd36: embedding-cosine near-dup — 12-bit random-hyperplane LSH
    // buckets, exact cosine only within buckets. Oracle-checked with
    // the plane coefficients embedded as literals (see OracleSql).
    QueryDef.sql(
      "dd_embedding",
      s"""WITH ${OracleSql.annBaseCtes},
         |${OracleSql.hyperplaneKeysCtes("hpk", 12, 1, 96)},
         |nb AS (
         |  SELECT n.vec_id, n.e, n.nrm, hpk.keys[1] AS bucket
         |  FROM n JOIN hpk USING (vec_id)
         |)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${OracleSql.cosine("a.e", "b.e", "a.nrm", "b.nrm")} AS cosine
         |FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |ORDER BY cosine DESC, vec_a, vec_b LIMIT $TopK""".stripMargin) { (s, dir) =>
      DedupOps.embeddingPairs(Tables.load(s, dir, "embeddings"), bits = 12)
        .orderBy(col("cosine").desc, col("vec_a"), col("vec_b")).limit(TopK)
    },

    // dd94 (round 5): SEMANTIC dedup (SemDeDup, Abbas et al. '23) —
    // k-means the embedding space, exact cosine only within clusters:
    // data-adaptive buckets where dd_embedding's hyperplanes are
    // random (LSH splits near-dups straddling a plane; k-means
    // follows the density). The oracle unrolls the same deterministic
    // k-means (shared annKmeansCtes — first-k init, floor-scaled
    // integer means) so even the learned clustering hash-matches,
    // then replays the within-cluster pair join.
    QueryDef.sql(
      "dd_semantic", {
        import OracleSql._
        s"""WITH $annBaseCtes,
           |${annKmeansCtes(32, 2, 1L << 24)},
           |pr AS (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |    ${cosine("na.e", "nb.e", "na.nrm", "nb.nrm")} AS cosine
           |  FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  JOIN n na ON na.vec_id = a.vec_id
           |  JOIN n nb ON nb.vec_id = b.vec_id
           |)
           |SELECT vec_a, vec_b, cosine FROM pr
           |ORDER BY cosine DESC, vec_a, vec_b LIMIT $TopK""".stripMargin
      }) { (s, dir) =>
      DedupOps.semanticPairs(Tables.load(s, dir, "embeddings"),
          ivfK = 32, iters = 2)
        .orderBy(col("cosine").desc, col("vec_a"), col("vec_b")).limit(TopK)
    }
  )

  // keyed by (session, dir): cached frames are bound to the session
  // that built them; the scratch store is reused only while NEWER than
  // the source table (the zIdxCache staleness rule)
  private val storeCache = scala.collection.mutable
    .Map.empty[(org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]

  /** The persisted MinHash signature store for the base corpus —
    * built ONCE per (session, sf dir) under target/scratch/sigstore
    * and read back as parquet, so dd_incremental exercises the real
    * amortized artifact (a store READ, not a recompute) on every run
    * after the first. */
  private def signatureStore(s: org.apache.spark.sql.SparkSession, dir: String,
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    synchronized {
      storeCache.getOrElseUpdate((s, dir), {
        val sfName = java.nio.file.Paths.get(dir).getFileName.toString
        val out = s"target/scratch/sigstore/$sfName/base"
        if (!Tables.builtFromCurrent(out, dir, "documents"))
          DedupOps.signatureTable(base).write.mode("overwrite").parquet(out)
        s.read.parquet(out)
      })
    }
}
