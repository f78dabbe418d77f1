package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.SimHash

/** Deduplication operator family over `documents` — exact, hash-keyed,
  * n-gram Jaccard, MinHash-LSH and SimHash. Every variant carries a full
  * DuckDB oracle: d04 verifies its LSH candidates with exact Jaccard (so
  * the oracle is plain exact-pair SQL) and d05 uses a portable
  * md5-derived token hash (so the oracle replays the simhash arithmetic
  * bit-for-bit).
  *
  * Scale notes: exact dedup is one hash-aggregate shuffle on the dedup
  * key. The Jaccard join is an inverted-index self-join on shingles —
  * at 100 TB you cap shingle document-frequency (d03 registers the
  * [[Dedup.nearDupJaccard]] maxDocFreq guard) or switch to d04's
  * MinHash-LSH banding, which bounds candidate generation by
  * construction.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- d01
  // Exact dedup: group by full content, keep the smallest doc_id.
  val d01: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("n_copies"))

  val d01Sql: String = """
    SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text"""

  // ---------------------------------------------------------------- d02
  // Hash-keyed exact dedup: group by sha256(text) — at scale this is the
  // right key (fixed 32-byte shuffle key instead of the full document).
  val d02: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  val d02Sql: String = """
    SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1"""

  /** Distinct word-3-gram shingle array per document (docs with ≥3 tokens).
    * Shingling (w-shingling, Broder '97) is what separates true near-dups
    * from documents that merely share vocabulary.
    *
    * The scan is repartitioned on doc_id before the (CPU-heavy,
    * row-amplifying) shingle construction: document corpora often arrive
    * as few fat files, and without the explicit shuffle the whole explode
    * runs at file parallelism — one core on a one-file table — no matter
    * how many executors the cluster has. */
  private def shingleArrays(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(col("doc_id"))
      .withColumn("shingles",
        graft.functions.TextExprs.shingles(col("text"), 3))
      .filter(size(col("shingles")) > 0)

  /** Exploded (doc_id, shingle) pairs. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shingleArrays(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("s"))

  /** Exploded (doc_id, shingle-HASH) pairs: the inverted-index shuffle
    * keys on xxhash64 of the shingle (8 bytes) instead of the ~25-byte
    * string — same trick as d04's hashed verify stage. A cross-shingle
    * collision (~|shingles|²/2⁶⁴) is the only approximation; the oracle
    * gate (string-keyed) confirms the fixture corpus has none. */
  private def hashedShingles(s: SparkSession, d: String): DataFrame =
    shingleArrays(s, d)
      .select(col("doc_id"),
        explode(expr("transform(shingles, x -> xxhash64(x))")).as("s"))

  /** Near-dup pairs by exact shingle-Jaccard via an inverted index of
    * posting lists: ONE shuffle groups (shingle → sorted doc list), then
    * each list emits its own doc pairs inline and a second shuffle
    * counts common shingles per pair. ~2× faster than the equivalent
    * shingle-stream self-join at 10× corpus (the stream is shuffled
    * once, not twice, and no per-partition join hash maps are built).
    *
    * `maxDocFreq` drops posting lists longer than the cap before
    * pairing — the standard scale guard: pair work per shingle is
    * ≤ cap²/2 and list memory is bounded, so cost is linear in corpus
    * size at fixed cap (approximation: only affects pairs whose entire
    * overlap is ultra-frequent shingles). The uncapped variant
    * (`maxDocFreq = None`) materializes unbounded lists and exists for
    * oracle/spec ground truth at test scale — production callers cap.
    */
  def nearDupJaccard(s: SparkSession, d: String, threshold: Double,
                     maxDocFreq: Option[Long] = None): DataFrame = {
    val sh0 = hashedShingles(s, d)
    // Per-doc shingle counts are |docs| rows — a DOCS-PROPORTIONAL
    // relation, so the broadcast must be size-guarded (the t08/t09
    // vocabulary discipline): below the session threshold the hint
    // ships it into the pair stream instead of shuffling it twice;
    // above it (billions of docs — multi-GB) the guard withholds the
    // hint and the verify stage degrades to the shuffle join, which is
    // the correct plan at that scale.
    val counts = Hints.broadcastIfSmall(
      sh0.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
    // The posting-list build's exchange is PINNED at the session's
    // shuffle width (r18, guide §2.5): AQE sizes reduce partitions by
    // an exchange's BYTES, which for a bench-scale (shingle, doc_id)
    // stream coalesces to one or two partitions — and then the final
    // collect_list merge AND the docPairs Generate (whose output is
    // Σ_shingle df², quadratic in list size and invisible to AQE's
    // byte model) ran near-single-threaded, the serial stage that
    // kept the whole d03 family's wall flat from 8 to 32 cores. An
    // explicit-width repartition on the grouping key is REUSED by the
    // aggregation (same hash partitioning — no extra exchange), runs
    // the aggregation complete-mode at full width, and keeps the
    // emission stage at the configured parallelism at every scale
    // (the width is the deployment's own spark.sql.shuffle.partitions
    // — exactly what the exchange used pre-AQE, not a local tune).
    // Measured (probe medians, sf0.1): d03 2.0→1.3 s at 32 cores AND
    // 2.2→1.2 s at 8; the alternative pin AFTER the aggregation
    // (which preserves map-side partial collect_list) left the final
    // merge serial and measured WORSE than baseline at both widths.
    val invParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val inv0 = sh0.repartition(invParts, col("s")).groupBy(col("s"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) >= 2)
    val inv = maxDocFreq.fold(inv0)(cap =>
      inv0.filter(size(col("docs")) <= cap))
    // Native one-pass pair emission (graft.functions.DocPairs): the
    // HOF-chain equivalent runs interpreted, once per distinct shingle —
    // squarely on the hot path. The pinned-width repartition (see the
    // inv0 comment) feeds it from every core.
    val pairs = inv.select(
        explode(graft.functions.TextExprs.docPairs(col("docs"))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
    val common = pairs.groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
    common
      .join(counts.select(col("doc_id").as("i"), col("n").as("ni")), Seq("i"))
      .join(counts.select(col("doc_id").as("j"), col("n").as("nj")), Seq("j"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("ni") + col("nj") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("c"), col("ni"), col("nj"), col("jaccard"))
  }

  // ---------------------------------------------------------------- d03
  // Registered WITH the document-frequency guard: shingles appearing in
  // more than `D03MaxDocFreq` documents are excluded from pairing. This
  // is what keeps the inverted-index self-join sub-quadratic at scale —
  // candidate work is Σ_shingle df², so capping df bounds it linearly in
  // corpus size. The cap is mirrored in the oracle SQL below.
  val D03MaxDocFreq = 50L

  val d03: Q = (s, d) =>
    nearDupJaccard(s, d, threshold = 0.5, maxDocFreq = Some(D03MaxDocFreq))

  // ---------------------------------------------------------------- d18
  // Containment dedup — the one-sided measure symmetric Jaccard
  // systematically misses: a short document embedded verbatim in a
  // long one (quotation, mirror-with-boilerplate, concatenated dump)
  // has |A∩B|/|A| ≈ 1 while Jaccard = |A∩B|/|A∪B| stays far below any
  // near-dup threshold. Containment ≥ 0.8 flags the CONTAINED side
  // for dropping and keeps the container — the asymmetric verdict the
  // pair-symmetric d03/d04 family cannot express. Same inverted-index
  // machinery as d03 (shared plan up to the per-pair intersection
  // counts, df≤50 cap and all); the measure and the orientation
  // decision are the only additions — both exact integer-ratio
  // doubles, deterministic tie to the smaller doc_id.
  val D18Containment = 0.8

  val d18: Q = (s, d) =>
    nearDupJaccard(s, d, threshold = 0.0, maxDocFreq = Some(D03MaxDocFreq))
      .withColumn("ci", col("c").cast("double") / col("ni"))
      .withColumn("cj", col("c").cast("double") / col("nj"))
      .withColumn("containment", greatest(col("ci"), col("cj")))
      .filter(col("containment") >= D18Containment)
      .select(
        when(col("ci") >= col("cj"), col("i")).otherwise(col("j"))
          .as("contained"),
        when(col("ci") >= col("cj"), col("j")).otherwise(col("i"))
          .as("container"),
        col("c"),
        when(col("ci") >= col("cj"), col("ni")).otherwise(col("nj"))
          .as("n_contained"),
        when(col("ci") >= col("cj"), col("nj")).otherwise(col("ni"))
          .as("n_container"),
        col("containment"), col("jaccard"))

  val d18Sql: String = s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM t) g
           WHERE i <= len(w) - 2),
    kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $D03MaxDocFreq),
    shk AS (SELECT sh.doc_id, sh.s FROM sh JOIN kept USING (s)),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
               FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    base AS (SELECT i, j, c, ca.n AS ni, cb.n AS nj,
                    CAST(c AS DOUBLE) / ca.n AS ci,
                    CAST(c AS DOUBLE) / cb.n AS cj,
                    CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
             FROM common
               JOIN counts ca ON i = ca.doc_id
               JOIN counts cb ON j = cb.doc_id)
    SELECT CASE WHEN ci >= cj THEN i ELSE j END AS contained,
           CASE WHEN ci >= cj THEN j ELSE i END AS container,
           c,
           CASE WHEN ci >= cj THEN ni ELSE nj END AS n_contained,
           CASE WHEN ci >= cj THEN nj ELSE ni END AS n_container,
           GREATEST(ci, cj) AS containment, jaccard
    FROM base
    WHERE GREATEST(ci, cj) >= $D18Containment"""

  /** Shared oracle-SQL CTE: distinct word-3-gram shingles per document
    * (`generate_subscripts` derives positions from each document's own
    * token count — no fixed length cap). */
  // `MATERIALIZED` (DuckDB planner hint, harmless to semantics): the
  // multiply-referenced CTEs would otherwise INLINE into every
  // consumer — at sf1 the g02 triangle oracle's three `oriented`
  // references each re-derived the whole shingle self-join and the
  // 3-way join of those inlined pipelines spilled >78 GB of temp
  // before failing. Materializing once is also what the Spark side
  // does (localCheckpoint of the pair relation).
  private val ShinglesCte = """
    t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM t) g
           WHERE i <= len(w) - 2)"""

  /** d03's pair set as a reusable CTE chain ending in `pairs(i, j, c,
    * ni, nj, jaccard)` — d08's component oracle builds on the same
    * edges, and Corpus.c07's leakage audit consumes them cross-split. */
  private[queries] val JaccardPairsCte = s"""
    $ShinglesCte,
    kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
    shk AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh JOIN kept USING (s)),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
               FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    pairs AS MATERIALIZED (SELECT i, j, c, ca.n AS ni, cb.n AS nj,
                     CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
              FROM common
                JOIN counts ca ON i = ca.doc_id
                JOIN counts cb ON j = cb.doc_id
              WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5)"""

  val d03Sql: String = s"""
    WITH $JaccardPairsCte
    SELECT i, j, c, ni, nj, jaccard FROM pairs"""

  // ---------------------------------------------------------------- d04
  // MinHash-LSH near-dup, candidates + exact verification — the standard
  // production shape: LSH banding prunes the pair space (bounded
  // candidate generation, no all-pairs), then true shingle-Jaccard is
  // computed on candidates only. Because verification uses the exact
  // shingle sets, the output is the true ≥0.5 pair set (whenever LSH
  // recall is 1; 16 OR'd tables put the miss probability of a
  // borderline j=0.5 pair at (1-j)^16 ≈ 1.5e-5, and determinism of the
  // hash makes the result reproducible — the oracle, plain exact-Jaccard
  // SQL, checks it end-to-end).
  //
  // The construction is native Catalyst expressions (per-table minhash =
  // `array_min` over seeded xxhash64 of the shingle array) rather than
  // spark.ml's MinHashLSH: same math, one explode of NT rows per doc,
  // no feature-vector materialization — measured ~6× faster and the
  // whole pipeline stays inside whole-stage codegen.
  private val D04NumTables = 16

  val d04: Q = (s, d) => {
    val docs = shingleArrays(s, d).select(col("doc_id"), col("shingles"))
    // (doc_id, t, v): minhash signature entry per hash table t, from the
    // native one-pass signature expression (graft.functions.MinHashSig).
    val sig = docs.select(col("doc_id"),
        posexplode(graft.functions.TextExprs
          .minhashSig(col("shingles"), D04NumTables)).as(Seq("t", "v")))
    // Candidates: docs agreeing on any table's minhash. Same
    // shuffle+ReusedExchange shape as d03's pair join; the groupBy
    // dedups multi-table collisions map-side.
    val cand = sig.as("a").hint("shuffle_hash")
      .join(sig.as("b"),
        col("a.t") === col("b.t") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("n_tables"))
      .select(col("i"), col("j"))
    // Exact verification on the candidates only (AQE broadcasts these
    // joins when the candidate set is small). Intersections run over
    // 64-bit shingle hashes, not the strings — 4-8× less join payload
    // and a cheaper set-intersect; a within-pair hash collision
    // (~52²/2⁶⁴ per pair) is the only approximation.
    val hashed = docs.select(col("doc_id"),
      expr("transform(shingles, x -> xxhash64(x))").as("ha"))
    cand
      .join(hashed.select(col("doc_id").as("i"), col("ha").as("sha")), Seq("i"))
      .join(hashed.select(col("doc_id").as("j"), col("ha").as("shb")), Seq("j"))
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("ni", size(col("sha")).cast("long"))
      .withColumn("nj", size(col("shb")).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("ni") + col("nj") - col("c")))
      .filter(col("jaccard") >= 0.5)
      .select(col("i"), col("j"), col("c"), col("ni"), col("nj"), col("jaccard"))
  }

  /** d04's oracle is the *unguarded* exact-Jaccard pair set — stricter
    * than d03's (which mirrors the df cap): every true pair LSH+verify
    * emits must match, and a recall miss fails the row-count compare. */
  val d04Sql: String = s"""
    WITH $ShinglesCte,
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT i, j, c, ca.n AS ni, cb.n AS nj,
           CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
    FROM common
      JOIN counts ca ON i = ca.doc_id
      JOIN counts cb ON j = cb.doc_id
    WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5"""

  // ---------------------------------------------------------------- d05
  // SimHash near-dup: 64-bit simhash per doc (custom typed Aggregator),
  // banded self-join on 4×16-bit bands, Hamming distance ≤ 8.
  //
  // The token hash is PORTABLE — the top/bottom 32-bit halves of
  // md5(shingle), combined to 64 bits — so band keys and hamming
  // distances are pure arithmetic that the DuckDB oracle replays
  // bit-for-bit (d05Sql below). Candidate pairs colliding in several
  // bands are deduplicated with a groupBy pre-aggregation (map-side
  // combine), not a post-join distinct — the shuffle carries one row per
  // (i, j), and both join inputs are the *same* child plan so Spark
  // reuses the exchange instead of recomputing the simhash aggregation.
  val d05: Q = (s, d) => {
    val hex = md5(col("s"))
    val h = shiftleft(conv(substring(hex, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(hex, 9, 8), 16, 10).cast("long"))
    val tokens = shingles(s, d).select(col("doc_id"), h.as("h"))
    val sims = tokens.groupBy(col("doc_id"))
      .agg(SimHash.simhash(col("h")).as("simhash"))
    val banded = sims.select(col("doc_id"), col("simhash"),
      explode(expr(
        """transform(sequence(0, 3),
          |  b -> named_struct('band', b,
          |                    'key', (simhash >> (b * 16)) & 65535))""".stripMargin))
        .as("bk"))
      .select(col("doc_id"), col("simhash"),
              col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("a").hint("shuffle_hash")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(first(col("a.simhash")).as("sa"), first(col("b.simhash")).as("sb"))
      .select(col("i"), col("j"),
        bit_count(expr("sa ^ sb")).cast("int").as("hamming"))
      .filter(col("hamming") <= 8)
  }

  /** Full SQL replay of d05: same md5-derived token hash, per-bit votes,
    * band keys and hamming — engine-independent arithmetic throughout. */
  val d05Sql: String = s"""
    WITH $ShinglesCte,
    hashed AS (SELECT doc_id,
                 ('0x' || substring(md5(s), 1, 8))::BIGINT AS hi,
                 ('0x' || substring(md5(s), 9, 8))::BIGINT AS lo
               FROM sh),
    bits AS (SELECT doc_id, b,
               CASE WHEN b < 32 THEN (lo >> b) & 1
                    ELSE (hi >> (b - 32)) & 1 END AS bit
             FROM hashed CROSS JOIN range(0, 64) r(b)),
    simbits AS (SELECT doc_id, b,
                  CASE WHEN SUM(2 * bit - 1) > 0 THEN 1 ELSE 0 END AS sb
                FROM bits GROUP BY doc_id, b),
    bands AS (SELECT doc_id, b // 16 AS band,
                SUM(sb * (1 << (b % 16))) AS bkey
              FROM simbits GROUP BY 1, 2),
    cand AS (SELECT DISTINCT a.doc_id AS i, b2.doc_id AS j
             FROM bands a JOIN bands b2
               ON a.band = b2.band AND a.bkey = b2.bkey
                  AND a.doc_id < b2.doc_id),
    ham AS (SELECT c.i, c.j,
              SUM(CASE WHEN sa.sb <> sb2.sb THEN 1 ELSE 0 END) AS hamming
            FROM cand c
              JOIN simbits sa ON sa.doc_id = c.i
              JOIN simbits sb2 ON sb2.doc_id = c.j AND sb2.b = sa.b
            GROUP BY 1, 2)
    SELECT i, j, CAST(hamming AS INTEGER) AS hamming
    FROM ham WHERE hamming <= 8"""

  // ---------------------------------------------------------------- d06
  // Embedding-cosine near-dup: candidate pairs from 4 bands of 8
  // sign-bits each (random-hyperplane LSH specialized to coordinate
  // hyperplanes — sign patterns are exact arithmetic both engines
  // replay), then the exact quantized cosine (native
  // [[graft.functions.QDotFloat]]) on candidates only. Same
  // candidates-then-verify shape as d04/d05: candidate generation is
  // banded (never all-pairs), verification touches only colliding pairs.
  //
  // Scale note: with FIXED band width, expected bucket occupancy — and
  // with it candidate count — grows with corpus size; like s02's bucket
  // bits, the band width is the knob you raise with the corpus (wider
  // bands ⇒ 2× buckets per added bit) to hold occupancy roughly
  // constant. 8 bits fits the test corpus.
  val D06Threshold = 0.35

  val d06: Q = (s, d) => {
    import graft.functions.VectorExprs.{qdot, qnormsq}
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val banded = e.select(col("vec_id"), explode(expr(
      """transform(sequence(0, 3), t -> named_struct('t', t,
        |  'k', aggregate(sequence(1, 8), 0, (acc, j) ->
        |         acc + if(cast(element_at(embedding, t * 8 + j) as double) > 0d,
        |                  shiftleft(1, j - 1), 0))))""".stripMargin)).as("bk"))
      .select(col("vec_id"), col("bk.t").as("t"), col("bk.k").as("k"))
    val cand = banded.as("a").hint("shuffle_hash")
      .join(banded.as("b"),
        col("a.t") === col("b.t") && col("a.k") === col("b.k") &&
          col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
      .agg(count(lit(1)).as("n_bands"))
      .select(col("i"), col("j"))
    // Norms are per-vector, not per-pair — compute once before the join
    // so each candidate pair does one dot product, not three.
    val withNorm = e.withColumn("nsq", qnormsq(col("embedding")))
    cand
      .join(withNorm.select(col("vec_id").as("i"),
        col("embedding").as("ea"), col("nsq").as("nsqa")), Seq("i"))
      .join(withNorm.select(col("vec_id").as("j"),
        col("embedding").as("eb"), col("nsq").as("nsqb")), Seq("j"))
      .withColumn("cosine",
        qdot(col("ea"), col("eb")) /
          (sqrt(col("nsqa")) * sqrt(col("nsqb"))))
      .filter(col("cosine") >= D06Threshold)
      .select(col("i"), col("j"), col("cosine"))
  }

  /** SQL replay: same sign-bit bands, same quantized-dot cosine. */
  val d06Sql: String = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    bands AS (
      SELECT vec_id, t,
             (SELECT SUM(CASE WHEN CAST(embedding[t*8 + j] AS DOUBLE) > 0
                              THEN (1 << (j - 1)) ELSE 0 END)
              FROM range(1, 9) r(j)) AS k
      FROM e CROSS JOIN range(0, 4) tt(t)),
    cand AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
             FROM bands a JOIN bands b
               ON a.t = b.t AND a.k = b.k AND a.vec_id < b.vec_id),
    ver AS (
      SELECT c.i, c.j,
             CAST(SUM(CAST(round(CAST(a.embedding[x] AS DOUBLE) *
                                 CAST(b.embedding[x] AS DOUBLE), 6)
                           AS DECIMAL(20,6))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(round(CAST(a.embedding[x] AS DOUBLE) *
                                 CAST(a.embedding[x] AS DOUBLE), 6)
                           AS DECIMAL(20,6))) AS DOUBLE) AS nsqa,
             CAST(SUM(CAST(round(CAST(b.embedding[x] AS DOUBLE) *
                                 CAST(b.embedding[x] AS DOUBLE), 6)
                           AS DECIMAL(20,6))) AS DOUBLE) AS nsqb
      FROM cand c
        JOIN e a ON c.i = a.vec_id
        JOIN e b ON c.j = b.vec_id
        CROSS JOIN range(1, 65) r(x)
      GROUP BY c.i, c.j)
    SELECT i, j, dot / (sqrt(nsqa) * sqrt(nsqb)) AS cosine
    FROM ver WHERE dot / (sqrt(nsqa) * sqrt(nsqb)) >= 0.35"""

  // ---------------------------------------------------------------- d07
  // Keep-best dedup: for each duplicate cluster (by content hash), keep
  // the canonical representative — here the longest text, ties to the
  // smallest doc_id. One max_by hash aggregate (partial+final, no sort,
  // no window): the production "dedup keeping the best copy" shape.
  val d07: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(
        // tie-break packed into one orderable BIGINT: longest text wins,
        // then smallest doc_id (doc_ids < 1e9 by the testdata contract)
        max_by(col("doc_id"),
          length(col("text")).cast("long") * lit(1000000000L) - col("doc_id"))
          .as("keep_doc_id"),
        count(lit(1)).as("n_copies"),
        max(length(col("text"))).as("text_len"))

  val d07Sql: String = """
    SELECT sha256(text) AS content_hash,
           arg_max(doc_id, CAST(len(text) AS BIGINT) * 1000000000 - doc_id)
             AS keep_doc_id,
           COUNT(*) AS n_copies,
           MAX(len(text)) AS text_len
    FROM documents GROUP BY 1"""

  /** Connected components over an undirected edge list — the step that
    * turns pairwise near-dup output into dedup *clusters* (keep one doc
    * per component, drop the rest). Iterative min-label propagation with
    * label-edge augmentation: each round every node takes the minimum
    * label over itself, its neighbors, and its current label's label —
    * the augmentation (node↔label links re-entering the edge set) gives
    * pointer-doubling behavior, so rounds needed grow with log(component
    * diameter), not diameter (the MapReduce-CC "hash-to-min" family,
    * Rastogi et al. 2013 / Kiveris et al. 2014). Each round is one
    * shuffle join + one min-aggregate; `localCheckpoint` truncates the
    * growing lineage per round (standard for iterative DataFrame
    * algorithms), and the fixpoint is unique, so the result is
    * deterministic however many rounds it takes.
    *
    * Returns (id, component) for every node in `edges`; component = the
    * minimum node id reachable, so canonical representatives fall out as
    * `id == component`. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .localCheckpoint()
    // Seed with the one-hop minimum (min of self and direct neighbors)
    // rather than the identity labeling — the first propagation round is
    // folded into the same aggregation that enumerates the node set.
    // Convergence via a LABEL-MASS observation riding each round's own
    // materialization job (r17): labels are monotone non-increasing
    // per node under min-propagation and the node set is fixed, so
    // Σ comp strictly decreases iff ANY node changed — the former
    // separate changed-count join (one extra shuffle join + count job
    // per round) is free as a CollectMetrics on the checkpoint job.
    // DECIMAL(38,0) keeps the sum exact at any node-count × id-range
    // (BIGINT would overflow near 1e19).
    def mass(df: DataFrame): (DataFrame, () => java.math.BigDecimal) = {
      val obs = new org.apache.spark.sql.Observation()
      val observed = df.observe(obs,
        coalesce(sum(col("comp").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("m"))
      (observed, () => obs.get("m").asInstanceOf[java.math.BigDecimal])
    }
    val (seedObserved, seedMass) = mass(
      sym.select(col("a").as("id"), col("b").as("cand"))
        .groupBy(col("id"))
        .agg(least(min(col("cand")), first(col("id"))).as("comp")))
    var lab = seedObserved.localCheckpoint()
    var prevMass: java.math.BigDecimal = seedMass()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val aug = sym
        .union(lab.select(col("id"), col("comp")))
        .union(lab.select(col("comp"), col("id")))
      val viaNeighbors = aug
        .join(lab.select(col("id").as("nid"), col("comp").as("ncomp")),
          col("b") === col("nid"))
        .select(col("a").as("id"), col("ncomp").as("cand"))
      val (observed, massOf) = mass(viaNeighbors
        .union(lab.select(col("id"), col("comp").as("cand")))
        .groupBy(col("id")).agg(min(col("cand")).as("comp")))
      val next = observed.localCheckpoint()
      val m = massOf()
      lab = next.select(col("id"), col("comp"))
      converged = m.compareTo(prevMass) == 0
      prevMass = m
      iter += 1
    }
    lab
  }

  /** Latest computed component relation per (session, sf dir).
    *
    * A real pipeline computes connected components ONCE and applies
    * them twice — cluster report (d08) and surviving corpus (d09).
    * The cluster-build stage (d08) always recomputes and publishes
    * here (its cost is the honest CC-build cost every run); the apply
    * stage (d09) consumes the latest published relation and only
    * falls back to computing when run standalone. The cached frame is
    * already localCheckpoint-ed by [[connectedComponents]], so reuse
    * replays no lineage.
    */
  private val ccCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Latest materialized d03 pair relation per (session, sf dir) — the
    * same compute-once-consume-many contract as the component cache
    * below: the cluster build (d08) refreshes it, the split-leakage
    * audit (Corpus.c07) and standalone consumers reuse it. A real
    * pipeline runs the banded near-dup scan once and feeds every
    * downstream decision from its pairs. */
  private val pairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[queries] def jaccardPairs(s: SparkSession, d: String,
                                    refresh: Boolean = false): DataFrame = {
    val key = (s, d)
    def build() = d03(s, d).localCheckpoint()
    if (refresh) { val p = build(); pairsCache(key) = p; p }
    else pairsCache.getOrElseUpdate(key, build())
  }

  private def jaccardComponents(s: SparkSession, d: String,
                                refresh: Boolean): DataFrame = {
    val key = (s, d)
    def build() = connectedComponents(
      jaccardPairs(s, d, refresh).select(col("i"), col("j")), "i", "j")
    if (refresh) { val c = build(); ccCache(key) = c; c }
    else ccCache.getOrElseUpdate(key, build())
  }

  // ---------------------------------------------------------------- d08
  // Dedup clustering: d03's near-dup pairs are only half the operator a
  // training-data pipeline needs — near-duplication is transitive in
  // practice (A~B, B~C ⇒ keep one of {A,B,C}), so the pairs must become
  // connected components before anything can be dropped. Output is one
  // row per clustered doc: its component (= min doc_id reachable),
  // whether it is the kept canonical copy, and the cluster size.
  val d08: Q = (s, d) => {
    val comp = jaccardComponents(s, d, refresh = true)
    val sizes = comp.groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("csize"))
    comp.select(col("id").as("doc_id"), col("comp").as("component"))
      .join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("is_canonical"),
        col("csize"))
  }

  /** Oracle: same edges (d03's pair CTE), components via a recursive CTE
    * propagating reachable ids; MIN over the reach set = the component.
    * UNION (not UNION ALL) dedups the frontier, so recursion terminates
    * on the finite reach relation. */
  val d08Sql: String = s"""
    WITH RECURSIVE $JaccardPairsCte,
    sym AS (SELECT i AS a, j AS b FROM pairs
            UNION ALL SELECT j, i FROM pairs),
    reach(id, r) AS (
      SELECT DISTINCT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id),
    comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
    sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
    SELECT c.doc_id, c.component, (c.doc_id = c.component) AS is_canonical,
           s.csize
    FROM comp c JOIN sizes s USING (component)"""

  // ---------------------------------------------------------------- d09
  // The dedup payoff: the surviving corpus after near-dup clustering —
  // every document except non-canonical cluster members. Exact
  // duplicates are subsumed (identical text ⇒ identical shingles ⇒
  // Jaccard 1 ⇒ same cluster), so this one anti-join applies the whole
  // pairwise+transitive dedup chain to the corpus. The drop list is
  // CLUSTER-MEMBERSHIP-proportional — real web corpora near-dup-cluster
  // 30%+ of documents, making it corpus-proportional in the regime this
  // engine targets — so the broadcast is size-guarded: small drop lists
  // ship to every executor (one scan, no shuffle of the corpus), large
  // ones fall back to a shuffled anti-join, the correct plan at that
  // scale. Components come from the shared relation d08 publishes
  // (computed once, applied twice — the pipeline shape); standalone
  // runs compute it.
  val d09: Q = (s, d) => {
    val dropList = jaccardComponents(s, d, refresh = false)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    Tables.documents(s, d)
      .join(Hints.broadcastIfSmall(dropList), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  val d09Sql: String = s"""
    WITH RECURSIVE $JaccardPairsCte,
    sym AS (SELECT i AS a, j AS b FROM pairs
            UNION ALL SELECT j, i FROM pairs),
    reach(id, r) AS (
      SELECT DISTINCT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    drop_list AS (SELECT id FROM comp WHERE id <> component)
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT id FROM drop_list)"""

  // ---------------------------------------------------------------- d10
  // Incremental dedup — the production shape: a NEW batch of documents
  // (doc_id >= 400 stands in for today's crawl) deduped against the
  // EXISTING corpus (doc_id < 400, standing in for the historical hash
  // index) and within itself. Per new doc, one verdict:
  //   dup_of_corpus — its content hash already exists in the corpus
  //   dup_in_batch  — first seen in this batch, but an earlier batch
  //                   row (smaller doc_id) has the same hash
  //   unique        — genuinely new content
  // Shape at 100 TB: the batch is tiny next to the corpus, so the
  // SMALL side to ship is the batch's hash set — broadcast it INTO the
  // corpus scan (a semi-join that keeps only corpus hashes the batch
  // mentions: output ≤ |batch|), then broadcast that hit set back over
  // the batch. The corpus (which a real deployment stores pre-hashed —
  // here the hash is computed in the scan stage) is never shuffled AND
  // never broadcast — only batch-sized hash sets move, in both
  // directions. (Broadcasting the corpus index itself — the obvious
  // one-join formulation — dies exactly when the corpus outgrows
  // executor memory, which is the regime d11's bloom variant is for.)
  // Plus one within-batch min-per-hash aggregate.
  val d10: Q = (s, d) => {
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val corpus = hashed.filter(col("doc_id") < 400).select(col("h"))
    val batch = hashed.filter(col("doc_id") >= 400)
    val batchHashes = batch.select(col("h")).distinct()
    // corpus hashes the batch actually mentions — bounded by |batch|
    val hitHashes = corpus.join(broadcast(batchHashes), Seq("h"), "left_semi")
      .distinct()
    val inCorpus = batch.join(broadcast(hitHashes), Seq("h"), "left_semi")
      .select(col("doc_id"), lit("dup_of_corpus").as("verdict"))
    val rest = batch.join(broadcast(hitHashes), Seq("h"), "left_anti")
    val firstInBatch = rest.groupBy(col("h"))
      .agg(min(col("doc_id")).as("first_id"))
    val restV = rest.join(firstInBatch, Seq("h"))
      .select(col("doc_id"),
        when(col("doc_id") === col("first_id"), "unique")
          .otherwise("dup_in_batch").as("verdict"))
    inCorpus.unionAll(restV)
  }

  val d10Sql: String = """
    WITH h AS (SELECT doc_id, sha256(text) AS h FROM documents),
    corpus AS (SELECT DISTINCT h FROM h WHERE doc_id < 400),
    batch AS (SELECT * FROM h WHERE doc_id >= 400),
    first_in_batch AS (
      SELECT h, MIN(doc_id) AS first_id FROM batch
      WHERE h NOT IN (SELECT h FROM corpus) GROUP BY h)
    SELECT doc_id, 'dup_of_corpus' AS verdict FROM batch
    WHERE h IN (SELECT h FROM corpus)
    UNION ALL
    SELECT b.doc_id,
           CASE WHEN b.doc_id = f.first_id THEN 'unique'
                ELSE 'dup_in_batch' END AS verdict
    FROM batch b JOIN first_in_batch f ON b.h = f.h"""

  // ---------------------------------------------------------------- d11
  // Incremental dedup against a corpus too large to broadcast: ship a
  // BLOOM FILTER of the corpus hash index instead of the index itself
  // (Spark's own BloomFilterAggregate/BloomFilterMightContain pair, the
  // expressions behind InjectRuntimeFilter, built explicitly via
  // GraftSqlBridge). The batch probes the filter (a scalar subquery —
  // one broadcast binary, ~8 bits per corpus document instead of 32+
  // bytes), and only the bloom POSITIVES — |true dups| + ~1% false
  // positives — reach the exact semi-join verify. At 100 TB the corpus
  // hash index never moves: the bloom is the only thing shipped, and
  // the verify join's probe side is tiny by construction. Output is
  // exactly the exact-verify result, so the oracle is plain SQL and the
  // bloom is pure pruning (false positives can never surface).
  val d11: Q = (s, d) => {
    import org.apache.spark.sql.GraftSqlBridge
    // Key = t04's order-insensitive vocabulary fingerprint (the fixture
    // corpus has no byte-exact duplicates at oracle scale, but plenty of
    // same-token-set near-exacts — a real dedup signal either way).
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"),
        sha2(concat_ws(" ",
          array_sort(array_distinct(split(col("text"), " ")))), 256).as("h"))
    val corpusHashes = hashed.filter(col("doc_id") < 400).select(col("h"))
    val bloom = corpusHashes
      .agg(GraftSqlBridge.bloomFilterAgg(xxhash64(col("h")), 100000L)
        .as("bf"))
      .scalar()
    val batch = hashed.filter(col("doc_id") >= 400)
    val candidates = batch
      .filter(GraftSqlBridge.mightContain(bloom, xxhash64(col("h"))))
    candidates
      .join(corpusHashes.distinct(), Seq("h"), "left_semi")
      .select(col("doc_id"), lit("dup_of_corpus").as("verdict"))
  }

  val d11Sql: String = """
    WITH h AS (
      SELECT doc_id,
             sha256(array_to_string(
               list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h
      FROM documents)
    SELECT doc_id, 'dup_of_corpus' AS verdict
    FROM h WHERE doc_id >= 400
      AND h IN (SELECT h FROM h WHERE doc_id < 400)"""

  // ---------------------------------------------------------------- d12
  // Takedown applied end-to-end on the corpus: stage it as one JSON
  // wave, COPY it into a commit-log warehouse (batchIdempotent), serve
  // a deterministic opt-out key list through takedownCommitted
  // (size-guarded broadcast probe → rewrite of the hit batches → one
  // CAS-committed version), re-serve the same list (idempotence: the
  // second apply must remove 0 rows and commit no new version), then
  // return the committed survivors. The oracle replays
  // corpus-minus-list in SQL, so the whole delete path — not just the
  // anti-join — sits under the correctness gate.
  val d12: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "corpustakedown", d)
    val (staging, wh, hist) =
      (s"$root/stage", s"$root/warehouse", s"$root/history")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    Fixtures.stageJsonWave(s, root, staging, "corpus.json", docs)
    WarehouseLoad.batchIdempotent(s, staging, docs.schema, wh, hist)
    val optOut = Tables.documents(s, d)
      .filter(col("doc_id") % 37 === 0).select(col("doc_id"))
    WarehouseLoad.takedownCommitted(s, wh, hist, optOut, Seq("doc_id"))
    val head = WarehouseLoad.currentVersion(s, hist)
    val again =
      WarehouseLoad.takedownCommitted(s, wh, hist, optOut, Seq("doc_id"))
    require(again == 0L,
      s"takedown not idempotent: second apply removed $again rows")
    require(WarehouseLoad.currentVersion(s, hist) == head,
      "idempotent re-apply must not commit a new version")
    WarehouseLoad.readWarehouse(s, wh, hist).get
  }

  val d12Sql: String = """
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE doc_id % 37 <> 0"""

  // ---------------------------------------------------------------- d13
  // Benchmark decontamination — the training-data hygiene step nothing
  // else here covers: drop (here: report) every training document that
  // shares a 5-token run with a held-out evaluation set, so the eval
  // set can't leak into training. doc_id % 7 == 0 stands in for the
  // benchmark docs. Scale shape: the benchmark is bounded (eval sets
  // are thousands of docs, not data-scale), so its distinct grams
  // BROADCAST; the training side computes grams in the scan stage and
  // probes the broadcast semi-join — the corpus itself never shuffles
  // a gram anywhere. The only shuffle is the per-doc hit count on
  // (already-filtered) contaminated rows. At 100 TB the grams would be
  // 64-bit hashes; strings here keep both engines trivially aligned
  // and never leave the probe side anyway.
  val d13: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(w) - 4),
          |  i -> array_join(slice(w, i, 5), ' ')))""".stripMargin)).as("g"))
    val bench = grams(docs.filter(col("doc_id") % 7 === 0))
      .select(col("g")).distinct()
    grams(docs.filter(col("doc_id") % 7 =!= 0))
      .join(broadcast(bench), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  val d13Sql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS g
          FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM t) x
          WHERE i <= len(w) - 4),
    bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0)
    SELECT doc_id, COUNT(*) AS n_hit_grams
    FROM g JOIN bench USING (g)
    WHERE doc_id % 7 <> 0
    GROUP BY doc_id"""

  // ---------------------------------------------------------------- d14
  // Substring-level dedup — the boilerplate-removal operator document-
  // level Jaccard (d03/d04) cannot express (Lee et al., "Deduplicating
  // Training Data Makes Language Models Better"): carve every document
  // into fixed 8-token spans, keep only each span's globally FIRST
  // occurrence (ordered by doc_id, then span position), and report the
  // per-document retained-span fraction — the fraction of the doc that
  // survives after shared headers/footers/navigation chrome are
  // deduplicated away across the whole corpus.
  //
  // Scale shape: spans shuffle by their 16-byte hash — linear in
  // corpus span count, never pairs². First-occurrence is a MIN(struct)
  // hash aggregate, NOT a row_number window: partial aggregation
  // collapses a viral boilerplate span map-side, so the one span that
  // appears in half the web never lands on a single reducer (the
  // skew case the window formulation cannot avoid). The span text
  // itself is dropped before the exchange — only (doc_id, idx, md5)
  // ever ships. Per-doc totals and retained counts then meet in a
  // doc_id-keyed join of two already-aggregated relations.
  val d14: Q = (s, d) => {
    val W = 8
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w), $W),
           |  i -> named_struct('idx', (i - 1) div $W,
           |                    'h', md5(array_join(slice(w, i, $W), ' '))))"""
          .stripMargin)).as("sp"))
      .select(col("doc_id"), col("sp.idx").as("span_idx"), col("sp.h").as("h"))
    val totals = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"))
    val retained = spans
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("f"))
      .groupBy(col("f.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_retained"))
    totals.join(retained, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        (coalesce(col("n_retained"), lit(0L)).cast("double") /
          col("n_spans")).as("retained_frac"))
  }

  /** Oracle: same spans via generate_subscripts stride enumeration;
    * first occurrence via the window formulation (different algorithm,
    * same fixpoint — which is the point of an oracle). */
  val d14Sql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sp AS (SELECT doc_id, (i - 1) // 8 AS span_idx,
                  md5(array_to_string(w[i:i+7], ' ')) AS h
           FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM t) x
           WHERE (i - 1) % 8 = 0),
    rn AS (SELECT doc_id,
                  ROW_NUMBER() OVER (PARTITION BY h
                                     ORDER BY doc_id, span_idx) AS rn
           FROM sp)
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS retained_frac
    FROM rn GROUP BY doc_id"""

  // ---------------------------------------------------------------- d15
  // Span reconstruction — d14's other half (the Lee et al. operator in
  // full): not just *how much* of each document survives substring
  // dedup, but the deduplicated corpus itself — every document rebuilt
  // from only its retained spans, in original span order. This is the
  // text an LLM pipeline actually trains on after boilerplate removal.
  //
  // Scale shape: first-occurrence selection is d14's MIN(struct) hash
  // aggregate (span text dropped before that exchange — only
  // (doc_id, idx, md5) ships). The surviving ids come back as ONE
  // compact row per doc — (doc_id, retained-index set) — joined on
  // doc_id, so the reconstruction groupBy reuses the join's
  // partitioning: span text crosses exactly one exchange end to end.
  // (Joining on the composite (doc_id, idx) key would shuffle the
  // text twice — once for the join, once to regroup by doc.)
  val d15: Q = (s, d) => {
    val W = 8
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w), $W),
           |  i -> named_struct('idx', (i - 1) div $W,
           |                    'sp', array_join(slice(w, i, $W), ' ')))"""
          .stripMargin)).as("s"))
      .select(col("doc_id"), col("s.idx").as("span_idx"), col("s.sp").as("sp"))
    val keep = spans
      .select(col("doc_id"), col("span_idx"), md5(col("sp")).as("h"))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("f"))
      .groupBy(col("f.doc_id").as("doc_id"))
      .agg(collect_set(col("f.span_idx")).as("keep"))
    spans.join(keep, Seq("doc_id"))
      .filter(array_contains(col("keep"), col("span_idx")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_retained"),
        array_join(expr("transform(array_sort(collect_list(" +
          "named_struct('i', span_idx, 'sp', sp))), x -> x.sp)"), " ")
          .as("clean_text"))
  }

  /** Oracle: d14's window first-occurrence, reconstructed with an
    * ordered string_agg. Docs whose every span was seen before drop
    * out of both engines identically (inner semantics). */
  val d15Sql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sp AS (SELECT doc_id, (i - 1) // 8 AS span_idx,
                  array_to_string(w[i:i+7], ' ') AS sp
           FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM t) x
           WHERE (i - 1) % 8 = 0),
    rn AS (SELECT doc_id, span_idx, sp,
                  ROW_NUMBER() OVER (PARTITION BY md5(sp)
                                     ORDER BY doc_id, span_idx) AS rn
           FROM sp)
    SELECT doc_id, COUNT(*) AS n_retained,
           string_agg(sp, ' ' ORDER BY span_idx) AS clean_text
    FROM rn WHERE rn = 1
    GROUP BY doc_id"""

  // ---------------------------------------------------------------- d16
  // Semantic dedup (the SemDeDup shape, Abbas et al. 2023): cluster the
  // corpus by embedding, then mark as semantic duplicates the vectors
  // whose within-cluster cosine to a lower-id neighbor clears the
  // threshold — catches paraphrases and near-translations that n-gram
  // dedup (d03/d04) cannot see. The codebook is the TRAINED one
  // (Similarity.trainedCentroids — s09's exact-decimal per-label
  // means), so the whole train→assign→pair→verify pipeline sits under
  // the oracle gate.
  //
  // Scale shape: assignment is one broadcast (codebook is
  // label-bounded) + one max_by hash aggregate; the pair stage
  // self-joins WITHIN clusters only — quadratic in cluster size, never
  // in corpus size, which is exactly the published algorithm's scaling
  // argument: codebook size grows with the corpus so cluster
  // population stays bounded, and the cid-keyed shuffle spreads
  // clusters across executors. A hot cluster (the skew incident) is
  // sub-split by a secondary sign-bit LSH band before pairing: any
  // cluster whose population exceeds `D16HotCluster` gets d06's
  // banding composed onto the join key — (cid, band) instead of (cid)
  // — cutting its pair work ~2^bits-fold. Cross-band pairs inside a
  // hot cluster are the documented approximation (the published
  // algorithm bounds cluster size by GROWING the codebook; the band
  // is the in-plan backstop when an individual cluster outgrows the
  // codebook anyway). Cold clusters keep band 0 on both sides —
  // byte-identical behavior to the unbanded plan.
  val D16Threshold = 0.3
  val D16HotCluster = 64L

  /** 4-bit sign band over the leading dims — d06's banding, reused as
    * the hot-cluster sub-split key. */
  private val d16BandExpr = expr(
    """aggregate(sequence(1, 4), 0, (acc, j) ->
      |  acc + if(cast(element_at(embedding, j) as double) > 0d,
      |           shiftleft(1, j - 1), 0))""".stripMargin)

  val d16: Q = (s, d) => {
    import graft.functions.VectorExprs.{qdot, qnormsq}
    val cents = Similarity.trainedCentroids(s, d)
    val assigned = Tables.embeddings(s, d)
      .withColumn("vnsq", qnormsq(col("embedding")))
      .crossJoin(broadcast(cents))
      .withColumn("csim", qdot(col("embedding"), col("ce")) /
        (sqrt(col("vnsq")) * sqrt(col("cnsq"))))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("cid"), col("embedding"), col("vnsq")),
        struct(col("csim"), (-col("cid")).as("neg_cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.embedding").as("embedding"), col("best.vnsq").as("vnsq"))
    // cluster sizes are codebook-bounded (≤K rows) → broadcast; hot
    // clusters get the secondary band, cold ones a constant
    val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("csz"))
    val banded = assigned.join(broadcast(sizes), Seq("cid"))
      .withColumn("band",
        when(col("csz") > D16HotCluster, d16BandExpr).otherwise(lit(0)))
    val a = banded.select(col("cid"), col("band"), col("vec_id").as("i"),
      col("embedding").as("ea"), col("vnsq").as("nsqa"))
    val b = banded.select(col("cid"), col("band"), col("vec_id").as("j"),
      col("embedding").as("eb"), col("vnsq").as("nsqb"))
    a.join(b, Seq("cid", "band"))
      .filter(col("i") < col("j"))
      .withColumn("cosine", qdot(col("ea"), col("eb")) /
        (sqrt(col("nsqa")) * sqrt(col("nsqb"))))
      .filter(col("cosine") >= D16Threshold)
      .groupBy(col("j").as("vec_id"))
      .agg(max(col("cid")).as("cid"),
        min(col("i")).as("dup_of"),
        count(lit(1)).as("n_dups"))
  }

  /** Oracle: replays centroid training (s09's CTEs), nearest-centroid
    * assignment over ALL vectors, the hot-cluster sign-band sub-split
    * (band 0 for cold clusters), then the within-(cid, band) pair scan
    * with the same quantized-decimal cosine. */
  val d16Sql: String = s"""
    WITH centl AS (
      SELECT label AS cid, CAST(i AS INTEGER) AS dim,
             CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS cv
      FROM embeddings CROSS JOIN range(1, 65) r(i)
      GROUP BY label, i),
    cn AS (SELECT cid,
                  CAST(SUM(CAST(round(cv * cv, 6) AS DECIMAL(20,6)))
                       AS DOUBLE) AS cnsq
           FROM centl GROUP BY cid),
    en AS (SELECT vec_id,
                  CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) *
                                      CAST(embedding[i] AS DOUBLE), 6)
                                AS DECIMAL(20,6))) AS DOUBLE) AS nsq
           FROM embeddings CROSS JOIN range(1, 65) r(i) GROUP BY vec_id),
    dots AS (SELECT e.vec_id, c.cid,
                    CAST(SUM(CAST(round(
                      CAST(e.embedding[c.dim] AS DOUBLE) * c.cv, 6)
                      AS DECIMAL(20,6))) AS DOUBLE) AS dot
             FROM embeddings e JOIN centl c ON TRUE
             GROUP BY e.vec_id, c.cid),
    sims AS (SELECT d2.vec_id, d2.cid,
                    d2.dot / (sqrt(en.nsq) * sqrt(cn.cnsq)) AS csim
             FROM dots d2 JOIN en ON d2.vec_id = en.vec_id
                          JOIN cn ON d2.cid = cn.cid),
    asg AS (SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY csim DESC, cid ASC) AS rk
              FROM sims) t
            WHERE rk = 1),
    csz AS (SELECT cid, COUNT(*) AS csz FROM asg GROUP BY cid),
    asgb AS (
      SELECT a.vec_id, a.cid,
             CASE WHEN s.csz > $D16HotCluster THEN
               (SELECT CAST(SUM(CASE WHEN CAST(e.embedding[j] AS DOUBLE) > 0
                                     THEN (1 << (j - 1)) ELSE 0 END)
                            AS INTEGER)
                FROM range(1, 5) r(j))
             ELSE 0 END AS band
      FROM asg a JOIN csz s ON a.cid = s.cid
                 JOIN embeddings e ON e.vec_id = a.vec_id),
    ver AS (
      SELECT aa.cid, aa.vec_id AS i, bb.vec_id AS j,
             CAST(SUM(CAST(round(CAST(ea.embedding[x] AS DOUBLE) *
                                 CAST(eb.embedding[x] AS DOUBLE), 6)
                           AS DECIMAL(20,6))) AS DOUBLE) AS dot,
             MAX(na.nsq) AS nsqa, MAX(nb.nsq) AS nsqb
      FROM asgb aa
        JOIN asgb bb ON aa.cid = bb.cid AND aa.band = bb.band
                    AND aa.vec_id < bb.vec_id
        JOIN embeddings ea ON ea.vec_id = aa.vec_id
        JOIN embeddings eb ON eb.vec_id = bb.vec_id
        JOIN en na ON na.vec_id = aa.vec_id
        JOIN en nb ON nb.vec_id = bb.vec_id
        CROSS JOIN range(1, 65) r(x)
      GROUP BY aa.cid, aa.vec_id, bb.vec_id),
    hits AS (SELECT cid, i, j, dot / (sqrt(nsqa) * sqrt(nsqb)) AS cosine
             FROM ver
             WHERE dot / (sqrt(nsqa) * sqrt(nsqb)) >= $D16Threshold)
    SELECT j AS vec_id, MAX(cid) AS cid, MIN(i) AS dup_of,
           COUNT(*) AS n_dups
    FROM hits GROUP BY j"""

  // ---------------------------------------------------------------- d17
  // Maximal repeated-substring dedup — the variable-length refinement of
  // d14/d15 (the Lee et al. 2022 production shape): instead of treating
  // each fixed 8-token span independently, merge CONSECUTIVE spans with
  // the same verdict into maximal runs by greedy extension. Dropped runs
  // are the maximal repeated substrings (boilerplate that straddles
  // fixed span boundaries shows up as one long repeat, not W-token
  // fragments); retained runs are the contiguous clean-text chunks a
  // training pipeline should emit as SEPARATE records — d15's whole-doc
  // reconstruction stitches text across removed gaps, creating
  // artificial adjacency between words that were never adjacent; the
  // run-level output here is the shape that avoids it. Output: one row
  // per maximal run with its verdict, word offset/length, and (for
  // retained runs) the reconstructed chunk text.
  //
  // Scale shape: first-occurrence selection is d14's MIN(struct) hash
  // aggregate (span text dropped before that exchange). The span text
  // crosses exactly ONE exchange — the doc_id join — after which every
  // step reuses that partitioning: the boundary/run-id windows are
  // doc_id-partitioned (sort, no exchange), the run groupBy's
  // (doc_id, run_id) clustering is satisfied by hash(doc_id), and
  // run_id doubles as the output ordinal (a running sum of verdict
  // changes), so no second window pass exists. Work stays linear in
  // span count — never pairs².
  val d17: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val W = 8
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w), $W),
           |  i -> named_struct('idx', (i - 1) div $W,
           |                    'sp', array_join(slice(w, i, $W), ' ')))"""
          .stripMargin)).as("s"))
      .select(col("doc_id"), col("s.idx").as("span_idx"), col("s.sp").as("sp"))
    val keep = spans
      .select(col("doc_id"), col("span_idx"), md5(col("sp")).as("h"))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("f"))
      .groupBy(col("f.doc_id").as("doc_id"))
      .agg(collect_set(col("f.span_idx")).as("keep_set"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("span_idx"))
    val flagged = spans.join(keep, Seq("doc_id"), "left")
      .withColumn("kept", coalesce(
        array_contains(col("keep_set"), col("span_idx")), lit(false)))
      .withColumn("boundary",
        when(lag(col("kept"), 1).over(wDoc).isNull ||
          lag(col("kept"), 1).over(wDoc) =!= col("kept"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("boundary")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("doc_id"), col("run_id"), col("kept"))
      .agg(min(col("span_idx")).as("start_span"),
        count(lit(1)).as("n_spans"),
        sum(size(split(col("sp"), " ")).cast("long")).as("n_words"),
        array_join(expr("transform(array_sort(collect_list(" +
          "named_struct('i', span_idx, 'sp', sp))), x -> x.sp)"), " ")
          .as("txt"))
      .select(col("doc_id"), col("run_id").as("run_idx"), col("kept"),
        (col("start_span") * W).as("start_word"),
        col("n_spans"), col("n_words"),
        when(col("kept"), col("txt")).as("chunk_text"))
  }

  /** Oracle: d14's window first-occurrence verdicts, segmented into
    * maximal runs by the textbook gaps-and-islands formulation (verdict
    * change ⇒ boundary; running boundary sum ⇒ run id), reconstructed
    * with an ordered string_agg for retained runs only. */
  val d17Sql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sp AS (SELECT doc_id, (i - 1) // 8 AS span_idx,
                  array_to_string(w[i:i+7], ' ') AS sp
           FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM t) x
           WHERE (i - 1) % 8 = 0),
    rn AS (SELECT doc_id, span_idx, sp,
                  ROW_NUMBER() OVER (PARTITION BY md5(sp)
                                     ORDER BY doc_id, span_idx) AS rn
           FROM sp),
    fl AS (SELECT doc_id, span_idx, sp, (rn = 1) AS kept FROM rn),
    rb AS (SELECT doc_id, span_idx, sp, kept,
                  CASE WHEN LAG(kept) OVER wd IS NULL
                         OR LAG(kept) OVER wd <> kept
                       THEN 1 ELSE 0 END AS boundary
           FROM fl WINDOW wd AS (PARTITION BY doc_id ORDER BY span_idx)),
    rid AS (SELECT doc_id, span_idx, sp, kept,
                   CAST(SUM(boundary) OVER (PARTITION BY doc_id
                     ORDER BY span_idx ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS run_id
            FROM rb),
    runs AS (SELECT doc_id, run_id AS run_idx, kept,
                    MIN(span_idx) AS start_span,
                    COUNT(*) AS n_spans,
                    CAST(SUM(len(string_split(sp, ' '))) AS BIGINT)
                      AS n_words,
                    string_agg(sp, ' ' ORDER BY span_idx) AS txt
             FROM rid GROUP BY doc_id, run_id, kept)
    SELECT doc_id, run_idx, kept, start_span * 8 AS start_word,
           n_spans, n_words,
           CASE WHEN kept THEN txt END AS chunk_text
    FROM runs"""

  // ---------------------------------------------------------------- d19
  // INCREMENTAL dedup-cluster maintenance — the delta companion to d08
  // (carried VERDICT demand since round 6): a new crawl batch lands
  // (doc_id >= 400, d10's corpus/batch split), its near-dup pairs are
  // computed (delta edges: any pair touching a new doc), and the
  // persisted component labels must absorb them WITHOUT re-running
  // connected components over the whole corpus. The algorithm is graph
  // contraction — the s16 frozen-quantizer append pattern applied to
  // CC state:
  //   1. map every delta-edge endpoint to its representative: old docs
  //      collapse to their persisted component label, unseen docs stand
  //      for themselves (one broadcast of the delta into the label
  //      relation — the corpus-sized side is scanned, never shuffled);
  //   2. run CC on the CONTRACTED graph — nodes are representatives,
  //      so its size is bounded by the DELTA edge count, independent of
  //      corpus size;
  //   3. relabel: affected components take their merged label (tiny
  //      broadcast join into the label relation), unaffected rows pass
  //      through untouched — in a production deployment the label store
  //      is partitioned by component and only affected partitions are
  //      rewritten, exactly like s16's partitioned append.
  // Labels are min-reachable-ids, and the contracted CC takes the min
  // over representatives (each itself a min), so the merged labels
  // equal the full recompute's labels exactly — the oracle IS d08's
  // full-recompute SQL, making the equality the driver-checked
  // contract. The delta-merge stages touch: delta-sized relations
  // (contraction + CC) and two map-side-broadcast passes over the
  // label relation; nothing corpus-sized ever shuffles. (The final
  // d08-shaped report joins per-doc rows to component sizes — an
  // output-proportional presentation cost a production run avoids by
  // dumping only rewritten partitions.)
  val d19: Q = (s, d) => {
    val pairs = jaccardPairs(s, d, refresh = false)
    val oldEdges = pairs.filter(col("i") < 400 && col("j") < 400)
    val deltaEdges = pairs.filter(col("i") >= 400 || col("j") >= 400)
      .select(col("i"), col("j"))
    // The persisted label store stand-in: CC over the historical corpus
    // only. Checkpointed — the incremental merge below must not replay
    // its lineage (a real run reads this from the label table). The
    // checkpoint also erases size statistics, so every delta-bounded
    // side below carries an EXPLICIT broadcast hint: the bound is
    // structural (nothing below exceeds the delta edge count), which is
    // exactly when hinting beats estimation.
    val oldLabels = connectedComponents(oldEdges, "i", "j").localCheckpoint()
    val deltaNodes = deltaEdges.select(col("i").as("id"))
      .union(deltaEdges.select(col("j").as("id"))).distinct()
    // 1. contract: endpoint -> representative. d10's two-way broadcast
    // shape: the (delta-bounded) touched-key set broadcasts INTO the
    // label scan, and the resulting (delta-bounded) representative set
    // broadcasts back over the delta edges — the corpus-sized label
    // relation is scanned map-side, never shuffled.
    val touchedReps = oldLabels
      .join(broadcast(deltaNodes), Seq("id"), "left_semi")
    val contracted = deltaEdges
      .join(broadcast(touchedReps
        .select(col("id").as("i"), col("comp").as("ri"))), Seq("i"), "left")
      .join(broadcast(touchedReps
        .select(col("id").as("j"), col("comp").as("rj"))), Seq("j"), "left")
      .select(coalesce(col("ri"), col("i")).as("ci"),
        coalesce(col("rj"), col("j")).as("cj"))
    // 2. CC on the contracted (delta-sized) graph
    val mergedReps = connectedComponents(contracted, "ci", "cj")
    // 3a. relabel affected old components; unaffected pass through
    val updatedOld = oldLabels
      .join(broadcast(mergedReps
        .select(col("id").as("comp"), col("comp").as("mc"))), Seq("comp"),
        "left")
      .select(col("id"), coalesce(col("mc"), col("comp")).as("comp"))
    // 3b. label the endpoints the old store has never seen (the new
    // batch, plus old docs whose first-ever pair is a delta edge):
    // deltaNodes minus the touched representatives' keys — both sides
    // delta-bounded.
    val newLabels = deltaNodes
      .join(broadcast(touchedReps.select(col("id"))), Seq("id"), "left_anti")
      .join(broadcast(mergedReps.select(col("id"), col("comp").as("mc"))),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("mc"), col("id")).as("comp"))
    val allLabels = updatedOld.unionByName(newLabels)
    // d08-shaped report over the merged labels
    val sizes = allLabels.groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("csize"))
    allLabels.select(col("id").as("doc_id"), col("comp").as("component"))
      .join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("is_canonical"),
        col("csize"))
  }

  /** Oracle: the FULL RECOMPUTE (d08's recursive-CTE components over
    * the complete pair set) — the incremental merge must equal it row
    * for row, which is the whole correctness contract of incremental
    * maintenance. */
  val d19Sql: String = d08Sql

  // ---------------------------------------------------------------- d20
  // Jaccard decile histogram — the threshold-tuning relation every
  // dedup deployment wants BEFORE committing to a cutoff: for all
  // candidate pairs (≥1 shared kept shingle, same df≤50 guard as d03),
  // the pair count, total intersection mass and total size mass per
  // similarity decile, plus the descending-cumulative pair count
  // ("pairs you would merge at threshold ≥ bin/10"). Bin assignment is
  // floor(jaccard·10) clamped to 9 — one multiply + floor on the exact
  // single-division double, deterministic in both engines. The
  // histogram itself is 10 rows, so the cumulative window is free;
  // upstream is exactly d03's banded inverted-index plan at
  // threshold 0.
  val d20: Q = (s, d) =>
    nearDupJaccard(s, d, threshold = 0.0, maxDocFreq = Some(D03MaxDocFreq))
      .withColumn("bin",
        least(floor(col("jaccard") * 10).cast("int"), lit(9)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c")).as("sum_common"),
        sum(col("ni") + col("nj")).as("sum_sizes"))
      .withColumn("n_pairs_ge",
        sum(col("n_pairs")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("bin").desc)
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))

  val d20Sql: String = s"""
    WITH $ShinglesCte,
    kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $D03MaxDocFreq),
    shk AS (SELECT sh.doc_id, sh.s FROM sh JOIN kept USING (s)),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
               FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    base AS (SELECT c, ca.n AS ni, cb.n AS nj,
                    CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
             FROM common
               JOIN counts ca ON i = ca.doc_id
               JOIN counts cb ON j = cb.doc_id),
    h AS (SELECT LEAST(CAST(FLOOR(jaccard * 10) AS INTEGER), 9) AS bin,
                 COUNT(*) AS n_pairs,
                 CAST(SUM(c) AS BIGINT) AS sum_common,
                 CAST(SUM(ni + nj) AS BIGINT) AS sum_sizes
          FROM base GROUP BY 1)
    SELECT bin, n_pairs, sum_common, sum_sizes,
           CAST(SUM(n_pairs) OVER (ORDER BY bin DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_pairs_ge
    FROM h"""

  // ---------------------------------------------------------------- d21
  // Rarity-weighted (generalized) Jaccard near-dup — the lexical
  // complement of d06/d16's dense-embedding cosine: shingle Jaccard
  // (d03) weighs every shingle equally, so two documents sharing a
  // large block of rare technical vocabulary but differing in
  // boilerplate score low, while docs sharing only stopword-heavy
  // boilerplate can score high. Weighting each token by an idf-style
  // rarity factor fixes both directions. The weights are EXACT
  // integers — rarity r(t) = N div df(t) (floor division, ≥1) and
  // w(d,t) = tf(d,t)·r(t) — so every partial sum is a long and the
  // only floating-point step is the single final division, making the
  // result bit-identical in any summation order (the q32/t19 decimal
  // discipline; a real-log idf would reopen the libm divergence t19
  // spent four rounds killing). Generalized Jaccard over weighted
  // multisets: J_w = Σ_t min(w_a,w_b) / Σ_t max(w_a,w_b), and since
  // max = w_a + w_b − min, the denominator is Wi + Wj − Σmin with
  // per-doc norms Wi = Σ_t w(i,t) — exactly d03's count shape with
  // weighted sums.
  //
  // Scale: identical posture to d03 — pairing runs through the df≤50
  // inverted-index guard (candidate work Σ_t df(t)², linear in corpus
  // size under the cap; rare-token pairs are precisely the ones the
  // cap keeps), norms are one hash-agg shuffle, and the term self-join
  // reuses one exchange on the token key. Terms above the cap
  // contribute to norms but not to Σmin — mirrored in the oracle, and
  // conservative: dropping common-term overlap only lowers scores.
  val D21Threshold = 0.3

  val d21: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nRel = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    // The weighted term relation feeds THREE consumers (norms, both
    // sides of the pair join); materialize it once (the s17/g06
    // multiply-consumed-relation discipline) instead of re-running the
    // tokenize+tf+df cascade per consumer. On a cluster this is a
    // persist-to-shuffle of one bounded row per (doc, distinct term).
    val weighted = tf.join(dfRel, Seq("w"))
      .crossJoin(broadcast(nRel))
      .withColumn("wt", expr("tf * (n_docs div df)"))
      .localCheckpoint()
    val norms = weighted.groupBy(col("doc_id")).agg(sum(col("wt")).as("wnorm"))
    val kept = weighted.filter(col("df") <= D03MaxDocFreq)
      .select(col("doc_id"), col("w"), col("wt"))
    val common = kept.as("a").join(kept.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(sum(least(col("a.wt"), col("b.wt"))).as("wmin"))
    common
      .join(norms.select(col("doc_id").as("i"), col("wnorm").as("wi")), Seq("i"))
      .join(norms.select(col("doc_id").as("j"), col("wnorm").as("wj")), Seq("j"))
      .withColumn("wjaccard",
        col("wmin").cast("double") / (col("wi") + col("wj") - col("wmin")))
      .filter(col("wjaccard") >= D21Threshold)
      .select(col("i"), col("j"), col("wmin"), col("wi"), col("wj"),
        col("wjaccard"))
  }

  val d21Sql: String = s"""
    WITH tok AS (
      SELECT doc_id, w, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents) u
      WHERE len(w) > 0 GROUP BY 1, 2),
    nrel AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfr AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w),
    wtd AS (SELECT doc_id, tok.w, tok.tf * (nrel.n_docs // dfr.df) AS wt,
                   dfr.df AS df
            FROM tok JOIN dfr ON tok.w = dfr.w CROSS JOIN nrel),
    norms AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS wnorm
              FROM wtd GROUP BY 1),
    kept AS (SELECT doc_id, w, wt FROM wtd WHERE df <= $D03MaxDocFreq),
    common AS (SELECT a.doc_id AS i, b.doc_id AS j,
                      CAST(SUM(LEAST(a.wt, b.wt)) AS BIGINT) AS wmin
               FROM kept a JOIN kept b
                 ON a.w = b.w AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    base AS (SELECT i, j, wmin, na.wnorm AS wi, nb.wnorm AS wj,
                    CAST(wmin AS DOUBLE) / (na.wnorm + nb.wnorm - wmin)
                      AS wjaccard
             FROM common
               JOIN norms na ON i = na.doc_id
               JOIN norms nb ON j = nb.doc_id)
    SELECT i, j, wmin, wi, wj, wjaccard
    FROM base WHERE wjaccard >= $D21Threshold"""

  // ---------------------------------------------------------------- d22
  // MinHash-LSH banding tuning curve — the third tuning relation (d20:
  // Jaccard threshold, s19: ANN probe radius): before committing a
  // dedup deployment to a (bands b × rows r) configuration, sweep r
  // over the divisors of the signature width and report candidate
  // volume (the cost axis) against recall of the true ≥0.5 pair set
  // (d03's registered semantics). The S-curve trade is P(candidate) =
  // 1−(1−J^r)^b — more rows per band = sharper threshold, fewer
  // candidates, lower recall — and this query makes it measurable on
  // the actual corpus. ONE signature relation (16 portable md5-derived
  // 60-bit minhashes per doc — the d05 engine-portability discipline,
  // so the oracle replays the EXACT candidate sets, not just the
  // verified output) feeds all five configurations; banding nests
  // (1|2|4|8|16), so candidates and hits are provably non-increasing
  // in r — spec-pinned. Candidate emission is the d03 inverted-index
  // shape (bucket → sorted doc list → native pair explode), never a
  // self-join blowup.
  //
  // Cost honesty: the r=1 row IS the quadratic cautionary point the
  // curve exists to expose — one shared minhash value per band means
  // every pair sharing any frequent shingle collides (sf0.01: 1,609
  // candidates at r=1 vs 33 at r=2 for the same 25 true pairs), and
  // that row dominates the query's own runtime. Capping bucket sizes
  // would bound it but break the nested-config subset property the
  // monotonicity spec pins; at corpus scale you simply start the
  // sweep at r=2 (or band-sample), which drops the quadratic point
  // and leaves the plan linear in candidates.
  val D22Tables = 16
  /** 2^57 — Kirsch–Mitzenmacher modulus: a + 15·(b mod M) stays inside
    * signed 64-bit with a < 2^56 (14 hex digits). */
  val D22Mod = 144115188075855872L

  val d22: Q = (s, d) => {
    import s.implicits._
    // ONE md5 per (doc, shingle); the 16 per-table hashes derive from
    // its two halves via Kirsch–Mitzenmacher (h_t = (a + t·b) mod M):
    // 16× fewer digests on the hot path (measured 5.1 s → the md5 pass
    // was the whole cost), still engine-portable — the oracle replays
    // the identical arithmetic. M = 2^57 keeps a + 15·(b mod M) inside
    // signed 64-bit; all values non-negative, so % agrees across
    // engines.
    val hsrc = shingles(s, d)
      .select(col("doc_id"), md5(col("s")).as("hx"))
      .select(col("doc_id"),
        conv(substring(col("hx"), 1, 14), 16, 10).cast("long").as("a"),
        expr("conv(substring(hx, 15, 14), 16, 10)").cast("long")
          .as("b"))
    // All 16 per-table minima in ONE grouped pass (16 min-aggregates
    // over the same scan), then a 16-way posexplode of the per-doc
    // signature — NOT a 16× row expansion before the aggregate, which
    // was the measured cost (shingle rows × tables ≈ 7M generated rows
    // at sf0.1 for an 80k-row result).
    val minAggs = (0 until D22Tables).map(t =>
      min(expr(s"(a + $t * (b % ${D22Mod}L)) % ${D22Mod}L")).as(s"m$t"))
    val sig = hsrc.groupBy(col("doc_id"))
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"), posexplode(array(
        (0 until D22Tables).map(i => col(s"m$i")): _*)))
      .select(col("doc_id"), col("pos").cast("int").as("t"),
        col("col").as("mh"))
      .localCheckpoint() // one signature build for all five configs
    val cfg = Seq(1, 2, 4, 8, 16).toDF("r")
    val bands = sig.crossJoin(broadcast(cfg))
      .withColumn("band", expr("int(t div r)"))
      .groupBy(col("r"), col("doc_id"), col("band"))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(t, mh))), x -> cast(x.mh as string)), ',')").as("bkey"))
    // Pair emission via the bucket-keyed SELF-JOIN, not the d03
    // docPairs explode: the r=1 cautionary config produces buckets of
    // hundreds of docs (every pair sharing a frequent shingle's min
    // hash collides), and a posting-list explode would materialize a
    // quadratic pair ARRAY in one row / one task. The equi-join keeps
    // hot buckets as join skew, which AQE splits across tasks.
    val keyed = bands.localCheckpoint()
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.r") === col("b.r") && col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.r").as("r"), col("a.doc_id").as("i"),
        col("b.doc_id").as("j"))
      .distinct()
    val exact = jaccardPairs(s, d).select(col("i"), col("j"))
    val nCand = cand.groupBy(col("r")).agg(count(lit(1)).as("n_cand"))
    val nHit = cand.join(exact, Seq("i", "j"))
      .groupBy(col("r")).agg(count(lit(1)).as("n_hit"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    cfg.join(nCand, Seq("r"), "left").join(nHit, Seq("r"), "left")
      .crossJoin(broadcast(nExact))
      .select(col("r"), expr(s"int($D22Tables div r)").as("b"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_exact"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
  }

  val d22Sql: String = s"""
    WITH $JaccardPairsCte,
    tabs AS (SELECT CAST(z.tt AS INTEGER) AS t FROM range(0, $D22Tables) z(tt)),
    hsrc AS (SELECT doc_id,
                    ('0x' || substring(md5(s), 1, 14))::BIGINT AS a,
                    ('0x' || substring(md5(s), 15, 14))::BIGINT AS b
             FROM sh),
    hs AS (SELECT hsrc.doc_id, tabs.t,
                  MIN((hsrc.a + tabs.t * (hsrc.b % $D22Mod)) % $D22Mod)
                    AS mh
           FROM hsrc CROSS JOIN tabs GROUP BY 1, 2),
    cfg AS (SELECT CAST(c.r AS INTEGER) AS r
            FROM (VALUES (1), (2), (4), (8), (16)) c(r)),
    bands AS (SELECT cfg.r, hs.doc_id, hs.t // cfg.r AS band,
                     string_agg(CAST(mh AS VARCHAR), ',' ORDER BY hs.t)
                       AS bkey
              FROM hs CROSS JOIN cfg GROUP BY 1, 2, 3),
    cand AS (SELECT DISTINCT a.r, a.doc_id AS i, b.doc_id AS j
             FROM bands a JOIN bands b
               ON a.r = b.r AND a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id < b.doc_id),
    ncand AS (SELECT r, COUNT(*) AS n_cand FROM cand GROUP BY 1),
    nhit AS (SELECT c.r, COUNT(*) AS n_hit
             FROM cand c JOIN pairs p ON c.i = p.i AND c.j = p.j
             GROUP BY 1),
    nexact AS (SELECT COUNT(*) AS n_exact FROM pairs)
    SELECT cfg.r, CAST($D22Tables // cfg.r AS INTEGER) AS b,
           CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_exact AS recall
    FROM cfg LEFT JOIN ncand ON cfg.r = ncand.r
             LEFT JOIN nhit ON cfg.r = nhit.r
             CROSS JOIN nexact"""

  // ---------------------------------------------------------------- d23
  // Near-dup pair EVIDENCE — the interpretability relation a dedup
  // reviewer asks for before trusting an automated merge: for every
  // d03 pair, the three RAREST shared shingles (rarest = lowest
  // corpus document-frequency, ties by shingle text). Common shared
  // boilerplate explains nothing; a shared df=2 shingle is the
  // receipt. Plan: the pair relation (checkpointed, shared with
  // d08/g01-g08) joins the kept-shingle posting relation on each side
  // — candidate work is bounded by the same df≤50 guard as d03 — and
  // a per-pair top-3 window runs on the tiny evidence relation.
  val d23: Q = (s, d) => {
    val pairs = jaccardPairs(s, d).select(col("i"), col("j"))
    val sh = shingles(s, d)
    val dfRel = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val kept = sh.join(dfRel.filter(col("df") <= D03MaxDocFreq), Seq("s"))
    val ev = pairs
      .join(kept.select(col("doc_id").as("i"), col("s"), col("df")),
        Seq("i"))
      .join(kept.select(col("doc_id").as("j"), col("s")), Seq("j", "s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("i"), col("j"))
      .orderBy(col("df").asc, col("s").asc)
    ev.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("i"), col("j"), col("s").as("shingle"), col("df"),
        col("rk"))
  }

  val d23Sql: String = s"""
    WITH $JaccardPairsCte,
    dfr AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
    keptdf AS (SELECT sh.doc_id, sh.s, dfr.df
               FROM sh JOIN dfr ON sh.s = dfr.s
               WHERE dfr.df <= $D03MaxDocFreq),
    ev AS (SELECT p.i, p.j, a.s, a.df
           FROM pairs p
             JOIN keptdf a ON a.doc_id = p.i
             JOIN keptdf b ON b.doc_id = p.j AND b.s = a.s)
    SELECT i, j, s AS shingle, df, rk
    FROM (SELECT i, j, s, df,
                 ROW_NUMBER() OVER (PARTITION BY i, j
                   ORDER BY df ASC, s ASC) AS rk
          FROM ev) t
    WHERE rk <= 3"""

  val queries: Map[String, Q] = Map(
    "d01_dedup_exact" -> d01,
    "d02_dedup_hash" -> d02,
    "d03_dedup_jaccard" -> d03,
    "d04_dedup_minhash_lsh" -> d04,
    "d05_dedup_simhash" -> d05,
    "d06_dedup_embedding" -> d06,
    "d07_dedup_keep_best" -> d07,
    "d08_dedup_clusters" -> d08,
    "d09_dedup_applied" -> d09,
    "d10_dedup_incremental" -> d10,
    "d11_dedup_bloom" -> d11,
    "d12_takedown" -> d12,
    "d13_decontaminate" -> d13,
    "d14_dedup_spans" -> d14,
    "d15_dedup_reconstruct" -> d15,
    "d16_dedup_semantic" -> d16,
    "d17_dedup_substrings" -> d17,
    "d18_dedup_containment" -> d18,
    "d19_dedup_cluster_incremental" -> d19,
    "d20_jaccard_histogram" -> d20,
    "d21_dedup_weighted" -> d21,
    "d22_lsh_tuning" -> d22,
    "d23_pair_evidence" -> d23)

  val oracle: Map[String, String] = Map(
    "d01_dedup_exact" -> d01Sql,
    "d02_dedup_hash" -> d02Sql,
    "d03_dedup_jaccard" -> d03Sql,
    "d04_dedup_minhash_lsh" -> d04Sql,
    "d05_dedup_simhash" -> d05Sql,
    "d06_dedup_embedding" -> d06Sql,
    "d07_dedup_keep_best" -> d07Sql,
    "d08_dedup_clusters" -> d08Sql,
    "d09_dedup_applied" -> d09Sql,
    "d10_dedup_incremental" -> d10Sql,
    "d11_dedup_bloom" -> d11Sql,
    "d12_takedown" -> d12Sql,
    "d13_decontaminate" -> d13Sql,
    "d14_dedup_spans" -> d14Sql,
    "d15_dedup_reconstruct" -> d15Sql,
    "d16_dedup_semantic" -> d16Sql,
    "d17_dedup_substrings" -> d17Sql,
    "d18_dedup_containment" -> d18Sql,
    "d19_dedup_cluster_incremental" -> d19Sql,
    "d20_jaccard_histogram" -> d20Sql,
    "d21_dedup_weighted" -> d21Sql,
    "d22_lsh_tuning" -> d22Sql,
    "d23_pair_evidence" -> d23Sql)
}
