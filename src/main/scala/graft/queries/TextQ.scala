package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.VectorF
import graft.ops.Dedup
import graft.sim.Similarity
import graft.text.{NearDup, TextOps}
import QHelp._

/** LLM-data-pipeline queries over `documents` and `embeddings`:
  * token counting, quality scoring, language ID, fingerprinting, exact and
  * near dedup (n-gram Jaccard, MinHash-LSH, SimHash), and embedding
  * similarity search. Oracles replicate the exact per-row arithmetic in
  * DuckDB SQL; the hash-based ops (xxhash64) are rows-only checks.
  */
object TextQ {

  /** Shared DuckDB CTE chain of the MinHash+LSH pipeline (shingles →
    * cross-engine poly hashes → 64 double-Lehmer minima → 16-band bucket
    * join → exact-Jaccard verify counts) — the oracle body of `t_minhash`,
    * reused by `t_dupgroups` which clusters the same verified pairs.
    */
  private val minhashCtes = """toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z_]+'), x -> len(x) >= 3) AS tk
        FROM documents
      ), sh AS (
        SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]) AS s
        FROM toks WHERE len(tk) >= 3
      ), ex AS (
        SELECT doc_id, unnest(s) AS sg FROM sh
      ), hx AS (
        SELECT doc_id, sg,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [CAST(ascii(c) AS BIGINT) FOR c IN string_split(sg, '')]),
                  (a, c) -> (a * 31 + c) % 1000000007) * 2147483648
               + list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [CAST(ascii(c) AS BIGINT) FOR c IN string_split(sg, '')]),
                  (a, c) -> (a * 131 + c) % 998244353) AS hf
        FROM ex
      ), mh AS (
        SELECT doc_id, sd.s,
               min(((sd.s * 2654435761 + (hf % 2147483647) + 1) * 48271 % 2147483647 * 16807) % 2147483647) AS v
        FROM hx CROSS JOIN range(64) sd(s) GROUP BY 1, 2
      ), sig AS (
        SELECT doc_id, list(v ORDER BY s) AS sig FROM mh GROUP BY 1
      ), banded AS (
        SELECT doc_id, b AS band, sig[b * 4 + 1 : b * 4 + 4] AS bv
        FROM sig CROSS JOIN range(16) t2(b)
      ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      ), inter AS (
        SELECT c.id_a, c.id_b, count(*) AS i
        FROM cand c
        JOIN hx ea ON ea.doc_id = c.id_a
        JOIN hx eb ON eb.doc_id = c.id_b AND ea.hf = eb.hf
        GROUP BY 1, 2
      ), sizes AS (
        SELECT doc_id, len(s) AS nsh FROM sh
      )"""

  val qs: Seq[Q] = Seq(

    // Token counting: whitespace + BPE-ish regex (builder brief).
    Q("t_stats", (s, dir) => {
      Tables.documents(s, dir)
        .select(bi(col("doc_id")).as("doc_id"),
          bi(TextOps.wsTokenCount(col("text"))).as("n_ws"),
          bi(TextOps.bpeishTokenCount(col("text"))).as("n_bpe"),
          bi(length(col("text"))).as("n_char"))
    }, Some("""
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe,
             CAST(length(text) AS BIGINT) AS n_char
      FROM documents""")),

    // Quality scoring: length/alpha/punct/word-length blend (builder brief).
    Q("t_quality", (s, dir) => {
      Tables.documents(s, dir)
        .select(bi(col("doc_id")).as("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"))
    }, Some("""
      WITH x AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
               CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
               CAST(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS DOUBLE) AS words
        FROM documents
      )
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             ROUND(least(n / 500.0, 1.0) * 0.3
                 + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.4
                 + (1.0 - (CASE WHEN n > 0 THEN least(punct / n * 10.0, 1.0) ELSE 0.0 END)) * 0.1
                 + least((CASE WHEN words > 0 THEN alpha / words ELSE 0.0 END) / 8.0, 1.0) * 0.2, 6) AS quality
      FROM x""")),

    // Language ID: stopword-count heuristic over {en,es,de,fr,zh}
    // (builder brief; first language in list order achieving the max).
    Q("t_langid", (s, dir) => {
      Tables.documents(s, dir)
        .select(bi(col("doc_id")).as("doc_id"),
          TextOps.langId(col("text")).as("pred_lang"),
          col("lang"),
          bi((TextOps.langId(col("text")) === col("lang")).cast("long")).as("correct"))
    }, Some("""
      WITH s AS (
        SELECT doc_id, lang,
          (len(string_split_regex(' '||lower(text)||' ', '\sthe\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sand\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sof\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sto\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sis\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sa\s'))-1) AS s_en,
          (len(string_split_regex(' '||lower(text)||' ', '\sel\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sla\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sde\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sque\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sy\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\slos\s'))-1) AS s_es,
          (len(string_split_regex(' '||lower(text)||' ', '\sder\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sdie\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sund\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sdas\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sist\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sein\s'))-1) AS s_de,
          (len(string_split_regex(' '||lower(text)||' ', '\sle\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sla\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sles\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sde\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\set\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sest\s'))-1) AS s_fr,
          length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) * 2 AS s_zh
        FROM documents
      ), p AS (
        SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
               greatest(s_en, s_es, s_de, s_fr, s_zh) AS m
        FROM s
      )
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CASE WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es' WHEN s_de = m THEN 'de'
                  WHEN s_fr = m THEN 'fr' ELSE 'zh' END AS pred_lang,
             lang,
             CAST(CASE WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es' WHEN s_de = m THEN 'de'
                  WHEN s_fr = m THEN 'fr' ELSE 'zh' END = lang AS BIGINT) AS correct
      FROM p""")),

    // Rolling-hash document fingerprint (builder brief).
    Q("t_fingerprint", (s, dir) => {
      Tables.documents(s, dir)
        .select(bi(col("doc_id")).as("doc_id"),
          bi(TextOps.fingerprint(col("text"))).as("fp"))
    }, Some("""
      WITH x AS (
        SELECT doc_id, regexp_replace(lower(text), '[^\x20-\x7e]', '', 'g') AS t
        FROM documents
      )
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(CASE WHEN length(t) = 0 THEN 0
                  ELSE list_reduce(
                    list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) FOR c IN string_split(t, '')]),
                    (a, c) -> (a * 31 + c) % 1000000007)
                  END AS BIGINT) AS fp
      FROM x""")),

    // Exact dedup via hash-groupBy on a normalization key (builder brief;
    // reference analog: INSERT IGNORE dedup sql.py:251-266).
    Q("t_exactdup", (s, dir) => {
      Dedup.exactGroups(Tables.documents(s, dir), Seq("lang", "n_chars"), "doc_id")
        .where(col("dup_count") > 1)
        .select(col("lang"), bi(col("n_chars")).as("n_chars"),
          bi(col("keep_id")).as("keep_id"), bi(col("dup_count")).as("dup_count"))
    }, Some("""
      SELECT lang, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS dup_count
      FROM documents GROUP BY lang, n_chars HAVING COUNT(*) > 1""")),

    // COMPOSITE corpus-cleaning pipeline — the training-data flagship:
    // one pass scores every doc (language ID, quality, BPE-ish token
    // count, rolling-hash fingerprint — all codegen'd kernels fused in a
    // single Project), gates on quality, exact-dedups on the fingerprint
    // (keep lowest doc_id), then aggregates the surviving corpus per
    // predicted language. The only shuffles are the dedup window and the
    // final small agg. The DuckDB oracle replays every stage.
    Q("t_pipeline", (s, dir) => {
      // pinWidth: the fused scoring Project is the plan's dominant cost
      // and ran as ONE task off the byte-sized single-split scan (whole
      // query = one 1.5 s task at 32 idle cores); no-op on a wide scan
      val scored = Tables.pinWidth(Tables.documents(s, dir)).select(col("doc_id"), col("source"),
        TextOps.langId(col("text")).as("pred_lang"),
        round(TextOps.qualityScore(col("text")), 6).as("q"),
        TextOps.bpeishTokenCount(col("text")).as("ntok"),
        TextOps.fingerprint(col("text")).as("fp"))
      val gated = scored.where(col("q") >= 0.65)
      val kept = Dedup.keepFirst(gated, Seq("fp"), Seq(col("doc_id")))
      kept.groupBy(col("pred_lang"), col("source"))
        .agg(bi(count(lit(1))).as("n_docs"),
          bi(sum(col("ntok"))).as("tokens"),
          // exact decimal sum, then one double divide: avg() would sum
          // doubles in engine-dependent order and can straddle a
          // round-half boundary (memory: oracle-parity rules)
          r6(dsum(col("q")) / count(lit(1))).as("avg_quality"),
          bi(min(col("doc_id"))).as("first_doc"))
    }, Some("""
      WITH ql AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
               CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
               CAST(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS DOUBLE) AS words
        FROM documents
      ), lid AS (
        SELECT doc_id,
          (len(string_split_regex(' '||lower(text)||' ', '\sthe\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sand\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sof\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sto\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sis\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sa\s'))-1) AS s_en,
          (len(string_split_regex(' '||lower(text)||' ', '\sel\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sla\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sde\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sque\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sy\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\slos\s'))-1) AS s_es,
          (len(string_split_regex(' '||lower(text)||' ', '\sder\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sdie\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sund\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sdas\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sist\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sein\s'))-1) AS s_de,
          (len(string_split_regex(' '||lower(text)||' ', '\sle\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sla\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sles\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sde\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\set\s'))-1)
          + (len(string_split_regex(' '||lower(text)||' ', '\sest\s'))-1) AS s_fr,
          length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) * 2 AS s_zh
        FROM documents
      ), fp AS (
        SELECT doc_id, regexp_replace(lower(text), '[^\x20-\x7e]', '', 'g') AS t
        FROM documents
      ), scored AS (
        SELECT d.doc_id, d.source,
          CASE WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
               WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
               WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
               WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
               ELSE 'zh' END AS pred_lang,
          ROUND(least(ql.n / 500.0, 1.0) * 0.3
              + (CASE WHEN ql.n > 0 THEN alpha / ql.n ELSE 0.0 END) * 0.4
              + (1.0 - (CASE WHEN ql.n > 0 THEN least(punct / ql.n * 10.0, 1.0) ELSE 0.0 END)) * 0.1
              + least((CASE WHEN words > 0 THEN alpha / words ELSE 0.0 END) / 8.0, 1.0) * 0.2, 6) AS q,
          len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS ntok,
          CAST(CASE WHEN length(fp.t) = 0 THEN 0
               ELSE list_reduce(
                 list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) FOR c IN string_split(fp.t, '')]),
                 (a, c) -> (a * 31 + c) % 1000000007)
               END AS BIGINT) AS fprint
        FROM documents d
        JOIN ql ON ql.doc_id = d.doc_id
        JOIN lid ON lid.doc_id = d.doc_id
        JOIN fp ON fp.doc_id = d.doc_id
      ), kept AS (
        SELECT * FROM scored WHERE q >= 0.65
        QUALIFY row_number() OVER (PARTITION BY fprint ORDER BY doc_id) = 1
      )
      SELECT pred_lang, source, COUNT(*) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS tokens,
             ROUND(CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality,
             CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM kept GROUP BY 1, 2""")),

    // Near-dup detection: exact word-3-gram Jaccard over pairs sharing at
    // least one shingle (explode + equi-join on shingle — no O(n²) scan).
    // Shingles with document frequency > maxDf are pruned from the SETS
    // before pairing: a stop-phrase shingle shared by k docs would emit k²
    // join rows (skew-quadratic at 100 TB). maxDf=1000 is a no-op at test
    // scale (observed max df = 25 at sf0.1) — it is the skew ceiling, and
    // the oracle applies the identical prune.
    Q("t_jaccard", (s, dir) => {
      val maxDf = 1000
      // NOT width-pinned: measured 1.71 s -> 1.85 s with pinWidth — the
      // shingle+hash head overlaps the df-window/self-join shuffles that
      // dominate this plan, so the extra text exchange only adds cost
      // (same verdict as the t_minhash widening experiment)
      val docs = Tables.documents(s, dir)
      // Shingles are distinct per doc, so |A∩B| = the count of matching
      // shingle rows per pair and |A∪B| = |A|+|B|−|A∩B| — the join carries
      // only (doc_id, shingle-hash) rows, never the arrays (at 100 TB the
      // array-intersect-per-candidate-pair form is quadratic in doc size).
      val wdf = Window.partitionBy("h")
      // NOT persisted (r17): the frame feeds sizes and BOTH sides of the
      // self-join, but all three consumers sit above the SAME
      // Exchange(h) that the df-window forces, and ReuseExchange dedups
      // it — the shingle fold and the shuffle run ONCE either way, so
      // the persist only added an eager materialization on the serial
      // path. Measured (min of 3 interleaved reps):
      // sf0.1 1.76 -> 1.42 s, ×30 8.94 -> 4.69 s. A df-via-groupBy+join
      // variant (B) measured 2.22 s sf0.1 / 4.41 s ×30 — no better than
      // the window once un-persisted; rejected to keep the oracle-
      // mirrored window form. The fused
      // ShingleHash61 head (r10) emits the cross-engine 61-bit poly value
      // in ONE byte-pass over the text — no lowercase copy, no regex, no
      // shingle strings — and was the round's t_jaccard win: the head was
      // ~16 s of the 22 s ×30 total; fused+window measured 3.95 s min
      // there (and 1.17 s at sf0.1 vs 1.85 catalog). An AllPairs
      // prefix-filter topology (rarest-first prefixes + intersect-verify)
      // measured better at sf0.1 (0.90) but worse at ×30 (6.1) and tied
      // at ×81 — topology kept, head replaced. The
      // judge-suggested df>=2 join-side semi-prune measured as a wash
      // (1.78 base vs 1.92 at sf0.1, 22.8 vs 22.2 at ×30) — rejected.
      val ex = docs
        .select(col("doc_id"), explode(TextOps.shingleHashes(col("text"), 3)).as("h"))
        .withColumn("__df", count(lit(1)).over(wdf))
        .where(col("__df") <= maxDf).drop("__df")
      val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      // pin the shingle self-join out of broadcast when the exploded
      // side is big: repetitive long streams lz4-compress far under
      // their in-memory size, so AQE's runtime re-plan can flip one
      // side to a BroadcastHashJoin whose corpus-proportional hash
      // relation builds single-threaded on the driver (jstack-measured
      // on t_minhash's band join, round 14 — ~40 s of driver build at
      // the ×243 decade; NearDup.candidatePairs has the incident). The
      // probe is a cheap one-pass LENGTH ESTIMATE over the raw docs —
      // the static estimate is unusable (Generate stats pass the
      // child's sizeInBytes through). Catalog scale stays below
      // threshold → no hint → plans byte-identical.
      val exBig = {
        val thresh = org.apache.spark.sql.graftx.Bridge.broadcastThreshold(s)
        // cheap one-pass length probe, NOT ex.count(): counting ex runs
        // the df-window chain serially before the query proper (+0.9 s
        // per catalog pass in the round-14 bench diff); chars/4 errs
        // high BY THEOREM (kept tokens are ≥ 3 chars + a separator, so
        // distinct shingles ≤ (chars+1)/4 — ProbeBoundSpec; round 15
        // replaced the chars/5 natural-text estimate a dense
        // 3-char-token corpus beat by 1.25×), and both decisions sit
        // ≥ 7× from the threshold (sf0.1 ~9 MB vs 64 MB; ×243
        // ~2.1 GB). sum() is null on an empty table — the NearDup
        // probe's isNullAt guard.
        val r = docs.agg(sum(length(col("text")))).head()
        val chars = if (r.isNullAt(0)) 0L else r.getLong(0)
        val estBytes = (chars + 1) / 4 * (8L + 8L + 16L)
        thresh < 0 || estBytes > thresh
      }
      def noBcast(df: org.apache.spark.sql.DataFrame) =
        if (exBig) df.hint("MERGE") else df
      val inter = noBcast(ex.as("a")).join(noBcast(ex.as("b")),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
      val j = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), "id_b")
        .withColumn("uni", col("na") + col("nb") - col("inter"))
      j.where(col("inter").cast("double") / col("uni") >= 0.6)
        .select(bi(col("id_a")).as("id_a"), bi(col("id_b")).as("id_b"),
          r6(col("inter").cast("double") / col("uni")).as("jaccard"))
    }, Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z_]+'), x -> len(x) >= 3) AS tk
        FROM documents
      ), sh AS (
        SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]) AS s
        FROM toks WHERE len(tk) >= 3
      ), ex0 AS (
        SELECT doc_id, unnest(s) AS sg FROM sh
      ), hx AS (
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [CAST(ascii(c) AS BIGINT) FOR c IN string_split(sg, '')]),
                  (a, c) -> (a * 31 + c) % 1000000007) * 2147483648
               + list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [CAST(ascii(c) AS BIGINT) FOR c IN string_split(sg, '')]),
                  (a, c) -> (a * 131 + c) % 998244353) AS h
        FROM ex0
      ), ex AS (
        SELECT doc_id, h FROM (
          SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM hx
        ) WHERE df <= 1000
      ), sizes AS (
        SELECT doc_id, count(*) AS nsh FROM ex GROUP BY 1
      ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
             ROUND(CAST(i AS DOUBLE) / (x.nsh + y.nsh - i), 6) AS jaccard
      FROM inter JOIN sizes x ON x.doc_id = id_a JOIN sizes y ON y.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (x.nsh + y.nsh - i) >= 0.6""")),

    // MinHash + LSH near-dup. The signature hash is the cross-engine
    // polynomial family, so the ENTIRE pipeline — shingle hash, 64
    // double-Lehmer minima, 16-band bucket join, exact-Jaccard verify —
    // replays in DuckDB and is hash-checked.
    Q("t_minhash", (s, dir) => {
      NearDup.minHashDedup(Tables.documents(s, dir), "doc_id", "text",
          shingleWidth = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .select(bi(col("id_a")).as("id_a"), bi(col("id_b")).as("id_b"), col("jaccard"))
    }, Some(s"""
      WITH $minhashCtes
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
             ROUND(CAST(i AS DOUBLE) / (x.nsh + y.nsh - i), 6) AS jaccard
      FROM inter JOIN sizes x ON x.doc_id = id_a JOIN sizes y ON y.doc_id = id_b
      WHERE ROUND(CAST(i AS DOUBLE) / (x.nsh + y.nsh - i), 6) >= 0.5""")),

    // Near-dup CLUSTERS: the corpus-dedup keep/drop step. Verified
    // MinHash pairs → connected components (min-label propagation in
    // Spark, recursive reachability CTE in DuckDB) → every clustered doc
    // mapped to its group's smallest id as the canonical keeper.
    // Transitive: A≈B≈C forms one group of 3 even when A,C never matched.
    Q("t_dupgroups", (s, dir) => {
      val pairs = NearDup.minHashDedup(Tables.documents(s, dir), "doc_id", "text",
        shingleWidth = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      NearDup.dupGroups(pairs)
        .select(bi(col("doc_id")).as("doc_id"), bi(col("keep_id")).as("keep_id"),
          bi(col("group_size")).as("group_size"))
    }, Some(s"""
      WITH RECURSIVE $minhashCtes,
      prs AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes x ON x.doc_id = id_a JOIN sizes y ON y.doc_id = id_b
        WHERE ROUND(CAST(i AS DOUBLE) / (x.nsh + y.nsh - i), 6) >= 0.5
      ), und AS (
        SELECT id_a AS s, id_b AS d FROM prs UNION ALL SELECT id_b, id_a FROM prs
      ), nodes AS (SELECT DISTINCT s AS n FROM und),
      reach(node, r) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT und.d, reach.r FROM reach JOIN und ON reach.node = und.s
      ),
      comp AS (SELECT node, min(r) AS keep FROM reach GROUP BY 1),
      gsz AS (SELECT keep, count(*) AS sz FROM comp GROUP BY 1)
      SELECT CAST(node AS BIGINT) AS doc_id, CAST(comp.keep AS BIGINT) AS keep_id,
             CAST(sz AS BIGINT) AS group_size
      FROM comp JOIN gsz ON comp.keep = gsz.keep""")),

    // SimHash near-dup: 64-bit signatures (cross-engine poly token hash),
    // Hamming <= 8 pairs via 9-band pigeonhole equi-join — no O(n²) cross
    // join — fully replayed in DuckDB.
    Q("t_simhash", (s, dir) => {
      NearDup.simHashPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 8)
        .select(bi(col("id_a")).as("id_a"), bi(col("id_b")).as("id_b"),
          bi(col("hamming")).as("hamming"))
    }, Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z_]+'), x -> len(x) >= 3) AS tk
        FROM documents
      ), tok AS (
        SELECT doc_id, unnest(tk) AS t FROM toks
      ), hraw AS (
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 [CAST(ascii(c) AS BIGINT) FOR c IN string_split(t, '')]),
                 (a, c) -> (a * 31 + c) % 1000000007) AS h1,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 [CAST(ascii(c) AS BIGINT) FOR c IN string_split(t, '')]),
                 (a, c) -> (a * 131 + c) % 998244353) AS h2
        FROM tok
      ), h64 AS (
        SELECT doc_id,
               (((h1 + 1) * 48271 % 2147483647 * 16807) % 2147483647) * 2147483648
               + (((h2 + 40503) * 48271 % 2147483647 * 16807) % 2147483647) AS h
        FROM hraw
      ), bits AS (
        SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        FROM h64 CROSS JOIN range(64) t2(b) GROUP BY 1, 2
      ), sigraw AS (
        SELECT doc_id, sum(CASE WHEN cnt > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
        FROM bits GROUP BY 1
      ), sig AS (
        SELECT t.doc_id, coalesce(s.sig, 0) AS sig
        FROM toks t LEFT JOIN sigraw s ON t.doc_id = s.doc_id
      ), banded AS (
        SELECT doc_id, sig, b AS band,
               (sig >> (7 * b)) & (CASE WHEN b = 8 THEN 255 ELSE 127 END) AS bv
        FROM sig CROSS JOIN range(9) t3(b)
      ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      )
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
             CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(sa, sb)) <= 8""")),

    // Brute-force cosine top-k (exactness baseline for ANN; query subset
    // keyed % 10 to bound the pair count at bench scale). Norms are
    // per-row columns (never recomputed per pair); the per-pair dot is
    // the codegen'd native expression.
    Q("s_knn", (s, dir) => {
      // pinWidth: the brute-force dot-product stage is CPU-dense and the
      // byte-sized embeddings scan is ONE split at bench scale — the
      // whole query/neighbor cross ran as one task (the t_pipeline
      // pathology, Tables.pinWidth scaladoc); no-op on a wide scan
      val v = Tables.pinWidth(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", sqrt(VectorF.dotp(col("v"), col("v"))))
      val a = v.where(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("va"), col("nv").as("na"))
      val b = v.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nv").as("nb"))
      val scored = a.join(b, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          r6(VectorF.dotp(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(bi(col("query_id")).as("query_id"), bi(col("neighbor_id")).as("neighbor_id"),
          col("cos"), bi(col("rank")).as("rank"))
    }, Some("""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), d AS (
        SELECT a.vec_id AS q, b.vec_id AS n,
               list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(a.e, b.e)]), (p, c) -> p + c) AS dot,
               sqrt(list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(a.e, a.e)]), (p, c) -> p + c)) AS na,
               sqrt(list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(b.e, b.e)]), (p, c) -> p + c)) AS nb
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
        WHERE a.vec_id % 10 = 0
      ), sc AS (
        SELECT q, n, ROUND(dot / (na * nb), 6) AS cos FROM d
      ), r AS (
        SELECT q, n, cos, row_number() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rank FROM sc
      )
      SELECT CAST(q AS BIGINT) AS query_id, CAST(n AS BIGINT) AS neighbor_id,
             cos, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5""")),

    // LSH-bucketed ANN (scale path). The hyperplane components are pure
    // integer arithmetic (no engine-specific hash), so the WHOLE pipeline
    // — 48 plane projections, 12-bit signatures x 4 tables, bucket join,
    // exact rescoring, top-5 — replays in DuckDB and is hash-checked.
    Q("s_lsh", (s, dir) => {
      // NOT pinWidth'd: measured 0.61 -> 0.84 s with the pin (lshTopK
      // persists its prepped frame and runs several small actions — the
      // extra eager exchange serializes ahead of them; the s_knn/s_ivf2
      // pin logic does not transfer here)
      val v = Tables.embeddings(s, dir)
      Similarity.lshTopK(v, "vec_id", "embedding", k = 5, planes = 12, tables = 4)
        .select(bi(col("query_id")).as("query_id"), bi(col("neighbor_id")).as("neighbor_id"),
          col("cos"), bi(col("rank")).as("rank"))
    }, Some("""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), comp AS (
        SELECT p,
               [ (CAST((((p * 2654435761 + d * 40503 + 1) * 48271 % 2147483647 * 16807) % 2147483647) % 2000001 AS DOUBLE) / 1000000.0) - 1.0
                 FOR d IN range(0, 64) ] AS cl
        FROM range(48) t(p)
      ), proj AS (
        SELECT vec_id, p,
               list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(e, cl)]), (a, b) -> a + b) AS pr
        FROM v CROSS JOIN comp
      ), sig AS (
        SELECT vec_id, p // 12 AS tbl,
               sum(CASE WHEN pr >= 0 THEN 1 << (p % 12) ELSE 0 END) AS sg
        FROM proj GROUP BY 1, 2
      ), cand AS (
        SELECT DISTINCT a.vec_id AS q, b.vec_id AS n
        FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.sg = b.sg AND a.vec_id <> b.vec_id
      ), sc AS (
        SELECT q, n,
               ROUND(
                 list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(va.e, vb.e)]), (p, c) -> p + c)
                 / (sqrt(list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(va.e, va.e)]), (p, c) -> p + c))
                  * sqrt(list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(vb.e, vb.e)]), (p, c) -> p + c))), 6) AS cos
        FROM cand JOIN v va ON va.vec_id = q JOIN v vb ON vb.vec_id = n
      ), r AS (
        SELECT q, n, cos, row_number() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rank
        FROM sc
      )
      SELECT CAST(q AS BIGINT) AS query_id, CAST(n AS BIGINT) AS neighbor_id,
             cos, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5""")),

    // Deterministic train/val/test split + batch numbering over the
    // corpus (learn.py form_splits/form_batches as scale ops): the
    // double-Lehmer id hash is pure per-row arithmetic, identical in
    // DuckDB, so the full assignment is hash-checked.
    Q("t_split", (s, dir) => {
      import graft.ml.Splits
      val assigned = Splits.assign(Tables.documents(s, dir), "doc_id",
        Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
      Splits.batches(assigned, "doc_id", batchSize = 64)
        .select(bi(col("doc_id")).as("doc_id"), col("split"), bi(col("batch")).as("batch"))
    }, Some("""
      WITH u AS (
        SELECT doc_id,
               CAST(((doc_id + 1) * 48271 % 2147483647 * 16807) % 2147483647 AS DOUBLE)
                 / 2147483647.0 AS u
        FROM documents
      ), sp AS (
        SELECT doc_id, u,
               CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        FROM u
      )
      SELECT CAST(doc_id AS BIGINT) AS doc_id, split,
             CAST((row_number() OVER (PARTITION BY split ORDER BY u, doc_id) - 1) // 64 AS BIGINT) AS batch
      FROM sp""")),

    // Embedding-cosine near-dup pairs (builder brief), exact oracle form
    // on the vec_id % 5 slice. The synthetic corpus plants NO true
    // near-dups (measured max pairwise cos = 0.513 at sf0.01), so the
    // threshold sits at the tail of the empirical distribution to keep
    // the result set non-trivial; the LSH-bucketed scale path
    // (Similarity.cosineDups) is spec-tested on planted duplicates.
    Q("t_embdup", (s, dir) => {
      val v = Tables.embeddings(s, dir).where(col("vec_id") % 5 === 0)
      Similarity.cosineDupsExact(v, "vec_id", "embedding", threshold = 0.4)
        .select(bi(col("id_a")).as("id_a"), bi(col("id_b")).as("id_b"),
          r6(col("cos")).as("cos"))
    }, Some("""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        WHERE vec_id % 5 = 0
      ), d AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(a.e, b.e)]), (p, c) -> p + c)
               / (sqrt(list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(a.e, a.e)]), (p, c) -> p + c))
                * sqrt(list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(b.e, b.e)]), (p, c) -> p + c))) AS cos
        FROM v a JOIN v b ON a.vec_id < b.vec_id
      )
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
             ROUND(cos, 6) AS cos
      FROM d WHERE cos >= 0.4""")),

    // IVF-Flat ANN catalog vehicle: FIXED deterministic quantizer (no
    // k-means fit), so the inverted-list mechanics — assignment, probing,
    // candidate join, exact rescoring, top-k — replay verbatim in DuckDB.
    // The PRODUCTION path (Similarity.ivfTopK, MLlib k-means quantizer
    // trained on a bounded sample) runs the same IVF body
    // (Similarity.ivfPipeline) over its fitted centroids, so only the
    // fit differs; it is spec-checked instead: >=0.9 recall vs brute
    // force plus fixed-seed run-to-run determinism (TextSpec) — a k-means fit is
    // not SQL-replayable, so it stays out of the oracle catalog rather
    // than sitting as a permanent rows-only row.
    Q("s_ivf2", (s, dir) => {
      // pinWidth: assignment/probe kernels and the candidate rescore are
      // CPU-dense over a one-split scan at bench scale (stage-traced: the
      // rescore ran as ONE 0.7 s task at 32 idle cores); no-op on a wide
      // corpus scan
      val v = Tables.pinWidth(Tables.embeddings(s, dir))
      Similarity.ivfTopKFixed(v, "vec_id", "embedding", k = 5, nLists = 16, nProbe = 4)
        .select(bi(col("query_id")).as("query_id"), bi(col("neighbor_id")).as("neighbor_id"),
          col("cos"), bi(col("rank")).as("rank"))
    }, Some("""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list, e AS ce
        FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)
      ), sl AS (
        SELECT v.vec_id, c.list,
               list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(e, e)]), (p, q) -> p + q)
               + list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(ce, ce)]), (p, q) -> p + q)
               - 2.0 * list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(e, ce)]), (p, q) -> p + q) AS cd
        FROM v CROSS JOIN c
      ), ranked AS (
        SELECT vec_id, list,
               row_number() OVER (PARTITION BY vec_id ORDER BY cd ASC, list ASC) AS pr
        FROM sl
      ), assigned AS (SELECT vec_id AS n, list FROM ranked WHERE pr = 1),
      probes AS (SELECT vec_id AS q, list FROM ranked WHERE pr <= 4),
      cand AS (
        SELECT DISTINCT q, n FROM probes JOIN assigned USING (list) WHERE q <> n
      ), sc AS (
        SELECT q, n,
               ROUND(
                 list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(va.e, vb.e)]), (p, c2) -> p + c2)
                 / (sqrt(list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(va.e, va.e)]), (p, c2) -> p + c2))
                  * sqrt(list_reduce(list_prepend(0.0, [x[1] * x[2] FOR x IN list_zip(vb.e, vb.e)]), (p, c2) -> p + c2))), 6) AS cos
        FROM cand JOIN v va ON va.vec_id = q JOIN v vb ON vb.vec_id = n
      ), r AS (
        SELECT q, n, cos, row_number() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rank
        FROM sc
      )
      SELECT CAST(q AS BIGINT) AS query_id, CAST(n AS BIGINT) AS neighbor_id,
             cos, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5"""))
  )
}
