package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.TextDedup
import graft.exec.ArtifactStore
import graft.functions.TextFns
import graft.io.Tables.table

/** Deduplication suite — a first-class training-data-pipeline capability
  * (exact, MinHash+LSH, SimHash; the embedding-cosine variant lives in
  * Similarity.scala). All hash math is md5-based so the DuckDB oracle can
  * verify values exactly.
  *
  * Scale design (100 TB):
  *  - exact dedup groups on md5(text), never on the raw text — the shuffle
  *    carries 32-byte keys instead of documents;
  *  - shingles are built SHUFFLE-FREE — arrays_zip of three shifted
  *    slices of the token array, then explode — not with per-row array
  *    lambdas (higher-order-function lambdas are interpreted, not
  *    codegen'd, ~40µs/element — measured 3× slower than the whole rest
  *    of the pipeline) and not with a per-doc window (r1's lead() shape
  *    paid a full shuffle+sort of every token row); slice/zip/concat_ws
  *    all stay inside whole-stage codegen;
  *  - MinHash signatures come from a partial-agg groupBy (map-side
  *    combine) over DOUBLE-HASHED values — one md5 per shingle row split
  *    into two 56-bit halves, g_k = (h1 + k·h2) mod 2^56 (MODULAR
  *    Kirsch-Mitzenmacher; the mod is what keeps the per-k argmins
  *    independent — see TextFns.Km56Mask), so the 8-hash signature
  *    costs 1 digest instead of 8 and the agg state
  *    is 8 longs; shuffle rows are (doc_id, 8×8B), never documents;
  *  - LSH bands use r=2 rows per band (bucket key = md5(mh_i‖mh_j)), so
  *    two docs collide on a band with probability jaccard² — this keeps
  *    candidate counts near-linear on corpora with heavy shared
  *    boilerplate (a 1-row band degenerates to "shares any one popular
  *    shingle", which is quadratic);
  *  - Jaccard verification runs in the HASH DOMAIN (the q118
  *    representation): the shingle relation is semi-joined down to
  *    candidate docs, each doc's distinct shingle set becomes one
  *    sorted 56-bit-hash array, and the per-pair intersection is the
  *    codegen IntersectCount merge over two attached arrays — cost
  *    ∝ |pairs|, independent of shingle df (popular boilerplate
  *    shingles cannot go quadratic), and exchanges carry longs, never
  *    shingle strings;
  *  - SimHash is 64-bit; candidate banding is pigeonhole-complete for
  *    the hamming threshold and size-gated between 4×16-bit bands
  *    (small corpora) and C(6,3)=20 block-triple keys (~2^32 key
  *    cardinality — sub-quadratic candidate growth at scale); hot
  *    buckets are AQE skew-split at the exchange.
  */
object Dedup {

  private val NUM_HASHES = 8 // 4 bands × 2 rows
  private val NUM_BANDS = 4
  private val JACCARD_MIN = 0.5
  private val NGRAM_JACCARD_MIN = 0.4
  private val CONTAIN_MIN = 0.5
  private val SIM_BITS = 64
  private val HAMMING_MAX = 3

  // SimHash banding geometry (q19). Two candidate generators, both
  // COMPLETE for hamming <= HAMMING_MAX (so the verified pair set is
  // EXACTLY {pairs at hamming <= 3} either way — the gate is a plan
  // decision, never a semantics decision):
  //  - small corpora: 4 bands x 16 bits — <=3 dirty bits dirty <=3 of
  //    the 4 bands, so at least one band matches exactly (pigeonhole);
  //    band-key cardinality is FIXED at 2^16, so expected bucket
  //    occupancy is N/2^16 and the equi-join's candidate output grows
  //    ~N^2/2^17 — fine to ~10^6 docs, quadratic beyond;
  //  - at scale (doc count > SimBandLimit, or the candidate census
  //    over the 16-bit buckets exceeds SimCensusPerDocLimit per doc —
  //    the density-adaptive part of the gate): Manku-style block
  //    combinations (WWW'07 near-dup detection) — the 64 bits split
  //    into 6 blocks (11,11,11,11,10,10); <=3 dirty bits dirty <=3
  //    blocks, so >=3 blocks are clean and some TRIPLE of clean blocks
  //    matches; keying on all C(6,3)=20 block triples (~32-bit keys,
  //    2^32+ cardinality) keeps expected occupancy N/2^32 — candidate
  //    growth stays near-linear until N ~ 10^9.
  private val SIM_BLOCKS = Seq((0, 11), (11, 11), (22, 11), (33, 11),
    (44, 10), (54, 10))
  private val SIM_COMBOS: Seq[Seq[Int]] = (0 until SIM_BLOCKS.length)
    .combinations(SIM_BLOCKS.length - HAMMING_MAX).toSeq
  /** Injectable doc-count CEILING for the q19 16-bit-band generator
    * (COVERAGE.md standing size-gate rule; Q19GateSpec forces both
    * branches and pins bitwise equality). Past this count the block
    * branch is taken unconditionally — expected 16-bit occupancy
    * N/2^16 makes the small branch structurally wrong there, so not
    * even the census (below) is worth a pass. */
  private[queries] val SimBandLimit: Long = 1L << 20
  /** Below [[SimBandLimit]] the branch choice is DENSITY-ADAPTIVE, not
    * doc-count-only: PERF.md's round-14 measurements show the true
    * crossover depends on duplication density (at 500k docs the 16-bit
    * branch still wins on a lightly-duplicated corpus, 2.9s vs 7.1s,
    * while losing 2× on a duplication-heavy one). So the plan decision
    * reads the data: [[candidateCensus]] counts EXACTLY the candidate
    * pairs the 16-bit join would generate (one partial-agg pass over
    * ≤ 4·2^16 buckets), and the 16-bit branch is kept only while that
    * count stays under this multiple of the doc count. Calibration
    * from the measured regimes: salted 500k docs ran 125 cand/doc and
    * the 16-bit branch was 2.4× FASTER; family 500k ran ~3,700
    * cand/doc and the block branch was 2× faster — the modelled
    * break-even (join-probe cost per candidate vs the block branch's
    * fixed 20-rows/doc explode+shuffle) sits between, at ~640. */
  private[queries] val SimCensusPerDocLimit: Long = 640L
  // q73: nodes above this degree are excluded from triangle enumeration
  // (the join is Σ deg² — a boilerplate hub, exactly what the degree
  // histogram exists to surface, would otherwise quadratic-blow it)
  private[queries] val TRIANGLE_DEGREE_CAP = 1000

  /** (doc_id, shingle) rows — NOT deduplicated (see callers: MinHash is
    * min-over-multiset so it needs no distinct; Jaccard dedups only the
    * candidate-restricted slice). Built codegen-only and shuffle-free:
    * 3-token shingles as arrays_zip of three shifted slices of the token
    * array — no window (r1 used lead() over a per-doc window, which cost a
    * full shuffle+sort of every token row), and no higher-order lambdas
    * (interpreted, ~40µs/element — measured 3× the rest of the pipeline).
    * Shared construction: TextDedup.shingleRows. */
  private def shingleRows(spark: SparkSession, dir: String): DataFrame =
    TextDedup.shingleRows(
      table(spark, dir, "documents"), "doc_id", "text")

  /** Oracle CTE prefix producing the same distinct shingle relation. */
  private val shinglesCte =
    s"""WITH toks AS (
          SELECT doc_id, ${TextFns.sql.tokens} AS tk FROM documents),
        sh AS (
          SELECT doc_id, ${TextFns.sql.shingles3} AS sh
          FROM toks WHERE len(tk) >= 3)"""

  /** Oracle CTE BODY (no leading WITH, so callers can prepend
    * WITH RECURSIVE): tokens → shingles → LSH candidates → verified
    * Jaccard pairs as `vp(doc_a, doc_b)` — the exact q17/q52/q73
    * derivation, exposed for cross-module consumers (q109's
    * cluster-representative oracle re-derives the pair graph inline
    * from this, keeping the DuckDB side artifact-free). Also defines
    * `toks(doc_id, tk)` which downstream CTEs may reuse. */
  private[queries] def verifiedPairsCteBody: String =
    s"""${shinglesCte.stripPrefix("WITH ")},
        $lshPairsCte,
        vp AS (
          SELECT doc_a, doc_b
          FROM pairs
          JOIN sh sa ON sa.doc_id = doc_a
          JOIN sh sb ON sb.doc_id = doc_b
          WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
                (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
                >= $JACCARD_MIN)"""

  /** MinHash signature: 8 double-hashed mins via one partial-agg groupBy
    * (min over the distinct set == min over the multiset, so no dedup is
    * needed on this path). Single definition with the library banding
    * path: TextDedup.minhashSignatures — ONE md5 per shingle
    * row, g_k = h1 + k·h2 (see TextFns.hash56). */
  private def minhashSig(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashSignatures(shingleRows(spark, dir), NUM_HASHES)

  /** Oracle CTE: per-doc md5 list of the shingle-list relation `src` —
    * hashes each shingle ONCE, shared by all 8 minhash columns (the
    * engine's digest-sharing, mirrored so the oracle is an honest
    * replay, not a strawman). */
  private def md5ListCte(name: String, src: String): String =
    s"$name AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS hl FROM $src)"

  private def minhashSigSqlCols: String =
    (1 to NUM_HASHES).map(k =>
      TextFns.sql.minhashFromMd5List("hl", k) + s" AS mh$k").mkString(", ")

  /** Oracle fragment shared by q35/q69: rare-shingle-blocked candidate
    * pairs from the `sh` shingle-list relation (df ∈ [2,5] blocking). */
  private val rareBlockedPairsCte =
    """ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        rare AS (
          SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 5),
        occ AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM occ a JOIN occ b ON a.s = b.s AND a.doc_id < b.doc_id)"""

  /** Spark twin of [[rareBlockedPairsCte]]: candidate pairs sharing a
    * document-frequency-[2,5] shingle. df on DISTINCT (doc, shingle)
    * occurrences — countDistinct, not a pre-distinct of the whole
    * relation (one shuffle, partial agg; the 100 TB form is the same
    * plan). Caller persists/unpersists the returned pairs. */
  private def rareBlockedPairs(sh: DataFrame): DataFrame = {
    val rare = sh.groupBy(col("s"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df").between(2, 5))
      .select(col("s"))
    val occ = sh.join(rare, "s").select(col("doc_id"), col("s")).distinct()
    occ.as("a")
      .join(occ.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** q17/q35/q69's output: pairs with 4-digit `scores`, localized, sorted. */
  private def pairRows(pairs: DataFrame, scores: String*): DataFrame =
    Q.localized(pairs.select(col("doc_a") +: col("doc_b") +:
        scores.map(c => round(col(c), 4).as(c)): _*)
      .orderBy(col("doc_a"), col("doc_b")))

  /** Oracle fragment: Jaccard + threshold over `pairs(doc_a, doc_b)` and
    * the shingle-list relation `sh` from [[shinglesCte]]. */
  private def jaccardSelectSql(minJaccard: Double): String =
    s"""SELECT doc_a, doc_b,
               round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
                     (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
                 AS jaccard
        FROM pairs
        JOIN sh sa ON sa.doc_id = doc_a
        JOIN sh sb ON sb.doc_id = doc_b
        WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
              (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
              >= $minJaccard
        ORDER BY doc_a, doc_b"""

  /** r=2 banding: band b key = md5(mh_{2b-1} ‖ '|' ‖ mh_{2b}), the two
    * BIGINT hashes rendered as decimal strings (identical on both
    * engines). Engine-side single definition: TextDedup.bandKeyCol
    * (used via the banding paths inside TextDedup). */
  private def bandKeySql(b: Int): String =
    s"md5(concat(CAST(mh${2 * b - 1} AS VARCHAR), '|', CAST(mh${2 * b} AS VARCHAR)))"

  /** Oracle fragment shared by q17/q52: LSH candidate pairs from the
    * shingle-list relation `sh` — signatures, r=2 banding, bucket join.
    * Single source of truth so the two oracles cannot diverge. */
  private def lshPairsCte: String =
    s"""${md5ListCte("hx", "sh")},
        sig AS (
          SELECT doc_id, $minhashSigSqlCols FROM hx),
        banded AS (
          SELECT doc_id, b.band AS band,
                 CASE b.band ${(1 to NUM_BANDS).map(b => s"WHEN $b THEN ${bandKeySql(b)}").mkString(" ")} END AS bk
          FROM sig, (VALUES ${(1 to NUM_BANDS).map(b => s"($b)").mkString(", ")}) b(band)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)"""

  /** 64-bit SimHash via explode + 64 conditional-sum aggregates (one
    * shuffle, partial agg). Bit j weighs bit (j/32) of hex digit
    * (j%32) of md5(token) — bits 0..31 are bit-0 parities (the r1
    * 32-bit signature's exact bits), bits 32..63 bit-1 parities. 64
    * bits because 4x16 banding over them makes hamming<=3 recall a
    * PIGEONHOLE GUARANTEE rather than a probabilistic trade (Charikar
    * simhash + Manku WWW'07 banding — the standard web-dedup pair).
    * Bit 63 lands in the long's sign bit; every consumer extracts
    * bands as (sig >> off) & mask, which is fill-insensitive for all
    * our offsets on BOTH engines (verified: arithmetic vs logical
    * shift only differ above the mask). */
  private[queries] def simhashDf(spark: SparkSession, dir: String): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("t"))
      .select(col("doc_id"), md5(col("t")).as("m"))
    val sums = (0 until SIM_BITS).map { j =>
      sum(when(substring(col("m"), (j % 32) + 1, 1)
        .isin(HexWithBit(j / 32): _*), 1).otherwise(-1)).as(s"c$j")
    }
    // two's-complement addition of DISJOINT bit patterns == bitwise OR,
    // and every partial sum is representable, so the fold is exact even
    // with bit 63 (Long.MinValue) in play
    val bits = (0 until SIM_BITS)
      .map(j => when(col(s"c$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), bits.as("simhash"))
  }

  /** Hex digits whose bit `b` (0 or 1) is set — the per-bit ±1 weight
    * test both engines share. */
  private val HexWithBit: Array[Seq[String]] = Array(
    Seq("1", "3", "5", "7", "9", "b", "d", "f"),
    Seq("2", "3", "6", "7", "a", "b", "e", "f"))

  /** The q19 small-corpus candidate key set: 4 bands x 16 bits —
    * (band, key) rows, 4 per doc. Complete for hamming <= 3
    * (pigeonhole over 4 bands); FIXED 2^16 key cardinality. */
  private[queries] def simBandsSmall(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16)
          .bitwiseAND(lit(0xFFFFL))): _*)))
      .select(col("doc_id"), col("simhash"),
        col("pos").as("band"), col("col").as("bk"))

  /** The q19 at-scale candidate key set: C(6,3)=20 block-triple keys
    * (band = combo id, key = three blocks packed into ~32 bits, 11
    * bits per lane). Complete for hamming <= 3 (>= 3 clean blocks out
    * of 6 ⇒ some keyed triple is wholly clean); key cardinality GROWS
    * past 2^32, so bucket occupancy stays ~N/2^32 instead of N/2^16 —
    * the candidate relation is near-linear where the 16-bit bands go
    * quadratic. 20 rows per doc instead of 4 is the price, paid
    * exactly when the corpus is large enough for occupancy to matter. */
  private[queries] def simBandsBlocks(sig: DataFrame): DataFrame = {
    def blk(b: Int): Column = {
      val (off, w) = SIM_BLOCKS(b)
      shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
    }
    val keys = SIM_COMBOS.map { c =>
      c.map(blk).reduce((acc, x) => acc * lit(1L << 11) + x)
    }
    sig.select(col("doc_id"), col("simhash"), posexplode(array(keys: _*)))
      .select(col("doc_id"), col("simhash"),
        col("pos").as("band"), col("col").as("bk"))
  }

  /** EXACT candidate-pair count a banded key relation would feed the
    * equi-join: Σ n·(n−1)/2 over (band, bk) bucket sizes. One
    * partial-agg pass (map-side combine into ≤ 4·2^16 groups for the
    * 16-bit generator), so the census costs a scan of the — persisted —
    * signature relation, never a join. n·(n−1) is even, so the
    * shiftright halving is exact Long arithmetic end to end (Column./
    * would go through double and lose exactness past 2^53). */
  private[queries] def candidateCensus(banded: DataFrame): Long =
    banded.groupBy(col("band"), col("bk")).count()
      .agg(coalesce(
        sum(shiftright(col("count") * (col("count") - 1), 1)),
        lit(0L)).as("c"))
      .head.getLong(0)

  /** q19's pair pipeline over a (doc_id, simhash) signature relation —
    * extracted so PlanSpec can pin the pre-localized physical shape.
    * An OR of band keys can't hash-partition, so band the signature
    * into (doc_id, band, key) rows and equi-join on (band, key) — ONE
    * join + distinct. BOTH band generators are complete for
    * hamming <= HAMMING_MAX, so the output is exactly {pairs at
    * hamming <= 3} regardless of the branch: the gate (doc-count
    * ceiling [[SimBandLimit]] + the [[candidateCensus]] density test
    * against [[SimCensusPerDocLimit]], both injectable per the
    * standing rule) only decides the candidate-key cardinality —
    * fixed 2^16 on the small branch, ~2^32 block-triple keys on the
    * block branch (sub-quadratic candidate growth; see SIM_BLOCKS
    * note and Q19GateSpec, which forces all three gate paths). */
  /** The gate decision itself, exposed with its reason string so
    * Q19GateSpec asserts the branch the REAL plan takes rather than
    * re-deriving the rule. */
  private[queries] def q19BandedChoice(sig: DataFrame,
      bandLimit: Long = SimBandLimit,
      censusPerDoc: Long = SimCensusPerDocLimit): (DataFrame, String) = {
    val n = sig.count()
    if (n > bandLimit) (simBandsBlocks(sig), s"blocks:doc-count=$n")
    else {
      val small = simBandsSmall(sig)
      val c = candidateCensus(small)
      // Overflow-safe form of `c <= censusPerDoc * n`: a spec-injected
      // censusPerDoc of Long.MaxValue ("never trip") must behave as a
      // true infinity, but MaxValue * n wraps negative for even n and
      // would silently flip the branch. Division can't overflow.
      if (c / math.max(n, 1L) <= censusPerDoc) (small, s"small:census=$c")
      else (simBandsBlocks(sig), s"blocks:census=$c")
    }
  }

  private[queries] def q19PairsPlan(sig: DataFrame,
      bandLimit: Long = SimBandLimit,
      censusPerDoc: Long = SimCensusPerDocLimit): DataFrame = {
    val banded = q19BandedChoice(sig, bandLimit, censusPerDoc)._1
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      // hamming BEFORE distinct: the filter is two already-loaded
      // longs per candidate, so deduping the multi-band collisions
      // shuffles only surviving pairs (output-sized), not the full
      // candidate set — and 3 narrow columns, not 4 wide ones
      .filter(col("hamming") <= HAMMING_MAX)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle twin of simhashDf (list formulation; identical values). Both
    * sides exclude token-less docs explicitly. Bit 63's addend embeds as
    * the decimal Long.MinValue literal; DuckDB's checked BIGINT addition
    * never overflows on disjoint bit patterns (every partial sum is the
    * value of a sub-pattern — representable). */
  private def simhashSqlCte: String = {
    val bitTerms = (0 until SIM_BITS).map { j =>
      val hexes = HexWithBit(j / 32).map(h => s"'$h'").mkString(",")
      val s = s"list_sum(list_transform(hl, m -> CASE WHEN " +
        s"substr(m, ${(j % 32) + 1}, 1) IN ($hexes) " +
        "THEN 1 ELSE -1 END))"
      s"(CASE WHEN $s > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH toks AS (
          SELECT doc_id, ${TextFns.sql.tokens} AS tk FROM documents),
        hs AS (
          SELECT doc_id, list_transform(tk, t -> md5(t)) AS hl
          FROM toks WHERE len(tk) > 0),
        sig AS (
          SELECT doc_id, $bitTerms AS simhash FROM hs)"""
  }

  val defs: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q15: exact dedup — group on content hash, keep min doc_id
    // (deterministic "first", unlike a bare dropDuplicates whose survivor
    // is partition-order-dependent — SURVEY §2.7 F16 note).
    Q("q15_dedup_exact",
      oracle = Some("""
        SELECT md5(text) AS fp,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
        ORDER BY keep_id"""),
      run = (spark, dir) => {
        table(spark, dir, "documents")
          .groupBy(md5(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_copies"))
          .orderBy(col("keep_id"))
      }),

    // ------------------------------------------------------------------
    // q16: MinHash signatures (8 salted-md5 min-hashes per doc).
    Q("q16_minhash_signatures",
      oracle = Some(s"""
        $shinglesCte,
        ${md5ListCte("hx", "sh")}
        SELECT doc_id, $minhashSigSqlCols
        FROM hx
        ORDER BY doc_id"""),
      run = (spark, dir) => minhashSig(spark, dir).orderBy(col("doc_id"))),

    // ------------------------------------------------------------------
    // q17: near-duplicate pairs — r=2 LSH bucket join for candidates,
    // co-shingle-count Jaccard to verify, threshold 0.5. Semantics are
    // "LSH candidates verified by Jaccard" on BOTH engines, so recall
    // characteristics cancel out in the comparison.
    Q("q17_neardup_minhash",
      oracle = Some(s"""
        $shinglesCte,
        $lshPairsCte
        ${jaccardSelectSql(JACCARD_MIN)}"""),
      run = (spark, dir) => {
        // reads the shared per-process pair artifact (see
        // verifiedPairsIndexed) — the first consumer in the process pays
        // the full TextDedup.nearDuplicatePairsPlan derivation, every
        // later q17/q52/q73 invocation is a parquet scan + round/sort
        pairRows(verifiedPairsIndexed(spark, dir), "jaccard")
      }),

    // ------------------------------------------------------------------
    // q18: 64-bit SimHash signature per document (frequency-weighted
    // majority over per-token md5 hex-digit bits; bits 0..31 are the
    // r1-era 32-bit signature, bits 32..63 the second parity plane).
    Q("q18_simhash",
      oracle = Some(s"""
        $simhashSqlCte
        SELECT doc_id, simhash FROM sig ORDER BY doc_id"""),
      run = (spark, dir) => simhashDf(spark, dir).orderBy(col("doc_id"))),

    // ------------------------------------------------------------------
    // q19: SimHash near-dup pairs — EXACT semantics: all pairs at
    // hamming ≤ 3 over the 64-bit signatures. Candidate generation is
    // pigeonhole-complete on both engines (any complete generator
    // yields the identical verified set), so the oracle uses the
    // simplest complete formulation (4 x 16-bit bands) while the
    // engine gates between the 16-bit bands and the sub-quadratic
    // 20-combo block keys on corpus size (see q19PairsPlan).
    Q("q19_simhash_pairs",
      oracle = Some(s"""
        $simhashSqlCte,
        banded AS (
          SELECT doc_id, simhash, b.band,
                 (simhash >> (16 * b.band)) & 65535 AS bk
          FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) b(band)),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          a.simhash AS sim_a, b.simhash AS sim_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sim_a, sim_b)) <= $HAMMING_MAX
        ORDER BY doc_a, doc_b"""),
      run = (spark, dir) => {
        // the signature table feeds both sides of the band join — persist
        // so the explode + 32-aggregate simhash job runs once
        val sig = simhashDf(spark, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val result = Q.localized(q19PairsPlan(sig))
        sig.unpersist(blocking = false)
        result
      }),

    // ------------------------------------------------------------------
    // q35: direct n-gram Jaccard with RARE-SHINGLE blocking (classic
    // entity-resolution blocking): candidate pairs are docs sharing a
    // shingle whose document frequency is in [2, 5] — popular boilerplate
    // shingles are excluded from pair generation outright, bounding the
    // enumeration at Σ df² ≤ 25·|rare shingles| (linear-ish in corpus
    // size), unlike all-pairs-within-a-block schemes. Complements q17:
    // no hashing, exact n-gram overlap semantics, lower threshold.
    Q("q35_ngram_jaccard",
      oracle = Some(s"""
        $shinglesCte,
        $rareBlockedPairsCte
        ${jaccardSelectSql(NGRAM_JACCARD_MIN)}"""),
      run = (spark, dir) => {
        // scores the shared rare-blocked overlap artifact (see
        // rareOverlapIndexed; q69 reads the same one)
        pairRows(TextDedup.jaccardAtLeast(
          rareOverlapIndexed(spark, dir), NGRAM_JACCARD_MIN), "jaccard")
      }),

    // ------------------------------------------------------------------
    // q69: SHINGLE CONTAINMENT (asymmetric overlap) — quote/copy
    // detection: containment C(A→B) = |S(A)∩S(B)| / |S(A)| flags a short
    // document living inside a long one, which symmetric Jaccard
    // structurally misses (the union term drowns the small side). The
    // candidate generation reuses q35's rare-shingle blocking and the
    // overlap counting reuses the hash-array TextDedup.pairOverlapPlan
    // core (cost ∝ candidates, never all-pairs) — only the scoring rule
    // differs, so the scale properties are q35's.
    Q("q69_containment",
      oracle = Some(s"""
        $shinglesCte,
        $rareBlockedPairsCte
        SELECT doc_a, doc_b,
               round(len(list_intersect(sa.sh, sb.sh)) * 1.0 / len(sa.sh), 4)
                 AS cont_a,
               round(len(list_intersect(sa.sh, sb.sh)) * 1.0 / len(sb.sh), 4)
                 AS cont_b
        FROM pairs
        JOIN sh sa ON sa.doc_id = doc_a
        JOIN sh sb ON sb.doc_id = doc_b
        WHERE greatest(
                len(list_intersect(sa.sh, sb.sh)) * 1.0 / len(sa.sh),
                len(list_intersect(sa.sh, sb.sh)) * 1.0 / len(sb.sh))
              >= $CONTAIN_MIN
        ORDER BY doc_a, doc_b"""),
      run = (spark, dir) => {
        // same shared overlap artifact as q35 — only the scoring rule
        // (asymmetric containment) differs
        pairRows(TextDedup.containmentAtLeast(
          rareOverlapIndexed(spark, dir), CONTAIN_MIN), "cont_a", "cont_b")
      }),

    // ------------------------------------------------------------------
    // q52: the FULL fuzzy-dedup pipeline end to end, hash-verified —
    // exact dedup (min-id survivor per md5(text)), MinHash r=2-band LSH
    // candidates over the survivors, hash-array Jaccard verify ≥ 0.5,
    // connected-components clustering (min-label propagation), drop every
    // doc whose cluster has a smaller id. The Spark side runs the
    // TextDedup.deduplicate library API verbatim; the oracle
    // replays the identical construction in SQL, with the clustering step
    // as a RECURSIVE CTE computing each node's min reachable id — so the
    // distributed label-propagation loop (previously spec-only) is now
    // checked value-for-value against an independent fixpoint.
    Q("q52_fuzzy_dedup",
      oracle = Some(s"""
        WITH RECURSIVE
        surv AS (
          SELECT min(doc_id) AS doc_id
          FROM documents WHERE text IS NOT NULL GROUP BY md5(text)
          UNION ALL
          SELECT doc_id FROM documents WHERE text IS NULL),
        toks AS (
          SELECT d.doc_id, ${TextFns.sql.tokens} AS tk
          FROM documents d JOIN surv USING (doc_id)),
        sh AS (
          SELECT doc_id, ${TextFns.sql.shingles3} AS sh
          FROM toks WHERE len(tk) >= 3),
        $lshPairsCte,
        vp AS (
          SELECT doc_a, doc_b
          FROM pairs
          JOIN sh sa ON sa.doc_id = doc_a
          JOIN sh sb ON sb.doc_id = doc_b
          WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
                (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
                >= $JACCARD_MIN),
        nodes AS (SELECT doc_a AS id FROM vp UNION SELECT doc_b FROM vp),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM vp
          UNION SELECT doc_b, doc_a FROM vp),
        reach AS (
          SELECT id, id AS label FROM nodes
          UNION
          SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON r.id = e.src),
        cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
        losers AS (SELECT id FROM cl WHERE cluster_id < id)
        SELECT s.doc_id FROM surv s
        WHERE s.doc_id NOT IN (SELECT id FROM losers)
        ORDER BY s.doc_id"""),
      run = (spark, dir) => {
        // artifact form of TextDedup.deduplicate: the exact pass runs as
        // usual; the LSH derivation comes from the shared pair artifact
        // restricted to the exact survivors (pairs(S) = pairs(full)∩S×S —
        // TextDedupSpec pins the equality with the derive-inline path)
        val survivors = TextDedup.deduplicateWithPairs(
          table(spark, dir, "documents"), "doc_id", "text",
          verifiedPairsIndexed(spark, dir))
        val result = Q.localized(
          survivors.select(col("doc_id")).orderBy(col("doc_id")))
        survivors.unpersist(blocking = false)
        result
      }),

    // ------------------------------------------------------------------
    // q73: GRAPH STATISTICS of the verified near-dup pair graph — the
    // QA pass a dedup deployment runs before clustering: the degree
    // histogram exposes boilerplate hubs (a doc near-duplicating
    // hundreds of others usually means template text the shingler should
    // have excluded) and the triangle count measures clique-ness (real
    // duplicate groups are transitive; a triangle-free pair set suggests
    // threshold noise). Edges are canonical (doc_a < doc_b), so
    // triangles enumerate exactly once as (a<b)⋈(b<c)⋈(a<c) — two
    // equi-joins, no direction dedup. The join is Σ per-node deg², so
    // nodes above TRIANGLE_DEGREE_CAP are excluded from the enumeration
    // (and counted in the `excluded_hubs` row): a boilerplate hub —
    // exactly what this query exists to detect — can inflate the row
    // count it reports but can never quadratic-blow the plan that
    // reports it (GraphStatsSpec pins this on a synthetic 10k-star).
    // Reuses the q17 pair pipeline verbatim (library call on the Spark
    // side, shared CTEs in the oracle).
    Q("q73_graph_stats",
      oracle = Some(s"""
        $shinglesCte,
        $lshPairsCte,
        vp AS (
          SELECT doc_a, doc_b
          FROM pairs
          JOIN sh sa ON sa.doc_id = doc_a
          JOIN sh sb ON sb.doc_id = doc_b
          WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
                (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
                >= $JACCARD_MIN),
        deg AS (
          SELECT node, count(*) AS degree FROM (
            SELECT doc_a AS node FROM vp
            UNION ALL SELECT doc_b FROM vp)
          GROUP BY node),
        hubs AS (SELECT node FROM deg WHERE degree > $TRIANGLE_DEGREE_CAP),
        etri AS (
          SELECT doc_a, doc_b FROM vp
          WHERE doc_a NOT IN (SELECT node FROM hubs)
            AND doc_b NOT IN (SELECT node FROM hubs)),
        stats AS (
          SELECT 'deg_' || CAST(degree AS VARCHAR) AS stat,
                 count(*) AS value
          FROM deg GROUP BY degree
          UNION ALL
          SELECT 'triangles', count(*)
          FROM etri e1
          JOIN etri e2 ON e1.doc_b = e2.doc_a
          JOIN etri e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
          UNION ALL SELECT 'nodes', count(*) FROM deg
          UNION ALL SELECT 'edges', count(*) FROM vp
          UNION ALL SELECT 'excluded_hubs', count(*) FROM hubs)
        SELECT stat, CAST(value AS BIGINT) AS value FROM stats
        ORDER BY stat"""),
      run = (spark, dir) => {
        // same shared pair artifact as q17/q52 — the graph pass itself
        // is pair-count-sized
        Q.localized(
          graphStats(verifiedPairsIndexed(spark, dir)
              .select(col("doc_a"), col("doc_b")),
            TRIANGLE_DEGREE_CAP).orderBy(col("stat")))
      }),

    // ------------------------------------------------------------------
    // q78: INCREMENTAL DEDUP — the daily-ingest shape q52's from-scratch
    // pipeline does NOT cover: a new batch is deduplicated AGAINST an
    // existing corpus (exact via hash anti-join, near via cross-side LSH
    // banding + hash-array intersect verify — since round 12 the q118
    // kernel: PPJoin length filter, pre-sorted 56-bit arrays, native
    // codegen IntersectCount; both engines hash with the same md5 half
    // so the hashed Jaccard is identical cross-engine) without ever
    // comparing the corpus to itself, so per-ingest cost is bounded by
    // the batch's candidates no matter how large (or internally
    // duplicated) the historical corpus is. The engine runs the PRODUCTION shape: the corpus side
    // is a MATERIALIZED index (TextDedup.buildDedupIndex — hashes,
    // bands, harr as parquet; built once per process, the q71/q54
    // artifact discipline) probed by
    // TextDedup.incrementalDeduplicateIndexed, so steady state pays only
    // batch-side derivation. The corpus/batch split derives
    // deterministically from the md5 decile of doc_id (the q72
    // construction), so both engines build identical inputs; the oracle
    // is artifact-free — it re-derives the corpus side inline and must
    // land on the exact same surviving batch ids, proving the index
    // changed nothing but the I/O.
    Q("q78_incremental_dedup",
      oracle = Some(s"""
        WITH b0 AS (
          SELECT doc_id, text,
                 (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                       AS BIGINT) % 10) AS dec
          FROM documents),
        corpus AS (SELECT doc_id, text FROM b0 WHERE dec < 8),
        batch AS (SELECT doc_id, text FROM b0 WHERE dec >= 8),
        bx AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM batch WHERE text IS NOT NULL) WHERE rn = 1
          UNION ALL
          SELECT doc_id, text FROM batch WHERE text IS NULL),
        bxx AS (
          SELECT doc_id, text FROM bx
          WHERE text IS NULL OR md5(text) NOT IN
            (SELECT md5(text) FROM corpus WHERE text IS NOT NULL)),
        tb AS (SELECT doc_id, ${TextFns.sql.tokens} AS tk FROM bxx),
        shb AS (SELECT doc_id, ${TextFns.sql.shingles3} AS sh
                FROM tb WHERE len(tk) >= 3),
        tc AS (SELECT doc_id, ${TextFns.sql.tokens} AS tk FROM corpus),
        shc AS (SELECT doc_id, ${TextFns.sql.shingles3} AS sh
                FROM tc WHERE len(tk) >= 3),
        ${md5ListCte("hxb", "shb")},
        ${md5ListCte("hxc", "shc")},
        sigb AS (SELECT doc_id, $minhashSigSqlCols FROM hxb),
        sigc AS (SELECT doc_id, $minhashSigSqlCols FROM hxc),
        bndb AS (
          SELECT doc_id, b.band AS band,
                 CASE b.band ${(1 to NUM_BANDS).map(b => s"WHEN $b THEN ${bandKeySql(b)}").mkString(" ")} END AS bk
          FROM sigb, (VALUES ${(1 to NUM_BANDS).map(b => s"($b)").mkString(", ")}) b(band)),
        bndc AS (
          SELECT doc_id, b.band AS band,
                 CASE b.band ${(1 to NUM_BANDS).map(b => s"WHEN $b THEN ${bandKeySql(b)}").mkString(" ")} END AS bk
          FROM sigc, (VALUES ${(1 to NUM_BANDS).map(b => s"($b)").mkString(", ")}) b(band)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
          FROM bndb a JOIN bndc c ON a.band = c.band AND a.bk = c.bk),
        hab AS (
          SELECT doc_id, list(h) AS hs, count(*) AS n FROM (
            SELECT DISTINCT doc_id, ${TextFns.sql.hash56("md5(s)", 1)} AS h
            FROM (SELECT doc_id, unnest(sh) AS s FROM shb)) GROUP BY doc_id),
        hac AS (
          SELECT doc_id, list(h) AS hs, count(*) AS n FROM (
            SELECT DISTINCT doc_id, ${TextFns.sql.hash56("md5(s)", 1)} AS h
            FROM (SELECT doc_id, unnest(sh) AS s FROM shc)) GROUP BY doc_id),
        dup AS (
          SELECT DISTINCT doc_a AS doc_id
          FROM pairs
          JOIN hab sa ON sa.doc_id = doc_a
          JOIN hac sb ON sb.doc_id = doc_b
          WHERE len(list_intersect(sa.hs, sb.hs)) * 1.0 /
                (sa.n + sb.n - len(list_intersect(sa.hs, sb.hs)))
                >= $JACCARD_MIN)
        SELECT doc_id FROM bxx
        WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        ORDER BY doc_id"""),
      run = (spark, dir) => {
        val surv = TextDedup.incrementalDeduplicateIndexed(
          q78Index(spark, dir), q78Split(spark, dir)._2,
          "doc_id", "text", JACCARD_MIN,
          read = ArtifactStore.readPublished)
        val result = Q.localized(surv.select(col("doc_id")).orderBy(col("doc_id")))
        surv.unpersist(blocking = false)
        result
      }),

    // ------------------------------------------------------------------
    // q84: SUB-DOCUMENT (chunk-level) DEDUP — the C4/CCNet "line-level"
    // dedup the document-level family (q15/q17/q52) cannot express:
    // repeated boilerplate SPANS are removed from otherwise-unique
    // documents instead of dropping whole documents. The unit here is a
    // fixed 10-token chunk (the corpus has no newlines; a real corpus
    // would split on '\n' — the plan is identical). Rule, C4-style: of
    // all occurrences of a chunk value across the corpus, only the
    // canonical one (min doc_id, then min chunk_no) survives; every
    // other occurrence is cut, and each document is re-assembled from
    // its surviving chunks in order. Output pins the rewrite per doc:
    // chunk counts plus md5 of the re-assembled text.
    // Scale shape: chunking is narrow (slice/array_join inside codegen —
    // no per-token explode; one occurrence row per ~10 tokens); the
    // canonical-occurrence choice is ONE window over md5(chunk) — the
    // shuffle carries (32B hash, two ids, one ~60B chunk payload), and
    // the chunk must move anyway for re-assembly; the rebuild is one
    // more shuffle back to doc_id. Two shuffles total, both hash-
    // partitioned, no self-join — cutting boilerplate from 100 TB costs
    // two passes.
    Q("q84_chunk_dedup",
      oracle = Some(s"""
        WITH tkq84 AS (
          SELECT doc_id, ${TextFns.sql.tokens} AS tk
          FROM documents WHERE text IS NOT NULL),
        occ AS (
          SELECT doc_id, ix.i AS chunk_no,
                 array_to_string(tk[(ix.i * 10 + 1):(ix.i * 10 + 10)], ' ')
                   AS chunk
          FROM tkq84, LATERAL (
            SELECT unnest(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT)))
              AS i) ix
          WHERE len(tk) > 0),
        marked AS (
          SELECT doc_id, chunk_no, chunk,
                 row_number() OVER (PARTITION BY md5(chunk)
                   ORDER BY doc_id, chunk_no) AS rn
          FROM occ)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_removed,
               md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                 ORDER BY chunk_no), '')) AS text_hash
        FROM marked GROUP BY doc_id ORDER BY doc_id"""),
      run = (spark, dir) => {
        val tk = table(spark, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) > 0)
        // one row per 10-token chunk, built by slice (codegen), not by
        // exploding tokens: 10× fewer rows leave this stage
        val occ = tk.select(col("doc_id"),
            posexplode(transform(
              sequence(lit(0L), ceil(size(col("tk")) / 10.0) - 1),
              i => array_join(
                slice(col("tk"), (i * 10 + 1).cast("int"), lit(10)), " "))))
          .toDF("doc_id", "chunk_no", "chunk")
        val canon = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("chunk")))
          .orderBy(col("doc_id"), col("chunk_no"))
        occ.withColumn("rn", row_number().over(canon))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_removed"),
            md5(array_join(transform(
              array_sort(collect_list(
                when(col("rn") === 1, struct(col("chunk_no"), col("chunk"))))),
              x => x.getField("chunk")), " ")).as("text_hash"))
          .orderBy(col("doc_id"))
      }),

    // ------------------------------------------------------------------
    // q102: CROSS-DOC REPEATED-SPAN DETECTION (the ExactSubstr idea of
    // Lee et al. 2021, "Deduplicating Training Data Makes Language
    // Models Better", at fixed span length): every SLIDING 8-token span
    // is fingerprinted, and a span is "repeated" when it occurs in ≥ 2
    // DISTINCT documents — the memorization-risk signal q84's fixed
    // chunk grid cannot see (a passage duplicated at a different token
    // offset never aligns to a chunk boundary; a sliding window catches
    // it at every offset). Output: per-doc span census (total spans,
    // occurrences belonging to cross-doc-repeated spans, fraction) — the
    // per-document drop/trim signal a cleaning pipeline consumes.
    // Scale shape: spans leave the scan stage as 56-bit md5 fingerprints
    // (TextFns.hash56 — engine-portable), never as strings, so every
    // span-keyed aggregation shuffles fixed-width longs with map-side
    // combine. The plan reads documents three times, but the passes are
    // NOT equal: two pay the span explode (the rep-set derivation and
    // the semi-filtered flagged rollup — Spark shares no common
    // subtrees, and persisting the corpus-token-scale span table is the
    // wrong trade), while the totals pass is tokenize-only arithmetic
    // (size(tk) − 7), no explode, no md5, no shuffle. The MEASURED
    // alternative — deriving totals from the span aggregate via a
    // broadcast flag join, saving the third scan — is ~1.5-2× SLOWER
    // warm at both sf0.1 and the 10× replica (0.6-0.9s vs 1.0-1.2s):
    // it drags every (span, doc) row through the rep-set join and a
    // full-width rollup, where the semi join reduces to the flagged
    // subset first. Both engines hash identically, so fingerprint
    // semantics (including the astronomically-unlikely 56-bit
    // collision) are SHARED — the compare stays exact. Intra-doc
    // repeats alone don't mark a span: the distinct-doc count is
    // computed from one row per (span, doc).
    Q("q102_repeated_spans",
      oracle = Some(s"""
        WITH tkq102 AS (
          SELECT doc_id, ${TextFns.sql.tokens} AS tk
          FROM documents WHERE text IS NOT NULL),
        base AS (
          SELECT doc_id, tk, len(tk) - 7 AS n_spans
          FROM tkq102 WHERE len(tk) >= 8),
        occ AS (
          SELECT doc_id,
                 ${TextFns.sql.hash56(
                   "md5(array_to_string(tk[ix.i:ix.i + 7], ' '))", 1)} AS h
          FROM base, LATERAL (
            SELECT unnest(range(1, len(tk) - 6)) AS i) ix),
        ds AS (
          SELECT h, doc_id, count(*) AS occn FROM occ GROUP BY h, doc_id),
        rep AS (
          SELECT h FROM ds GROUP BY h HAVING count(*) >= 2),
        r AS (
          SELECT doc_id, sum(occn) AS n_rep FROM ds
          JOIN rep USING (h) GROUP BY doc_id)
        SELECT b.doc_id,
               CAST(b.n_spans AS BIGINT) AS n_spans,
               CAST(coalesce(r.n_rep, 0) AS BIGINT) AS n_rep_occ,
               floor(coalesce(r.n_rep, 0) * 10000.0
                     / CAST(b.n_spans AS DOUBLE) + 0.5) / 10000 AS rep_frac
        FROM base b LEFT JOIN r USING (doc_id)
        ORDER BY b.doc_id"""),
      run = (spark, dir) => {
        val tk = spanBase(table(spark, dir, "documents"), 8)
        val occ = tk.select(col("doc_id"), explode(spanHashes(8)).as("h"))
        val ds = occ.groupBy(col("h"), col("doc_id"))
          .agg(count(lit(1)).as("occn"))
        // flagged rollup: semi-filter FIRST so the doc aggregation only
        // touches occurrences of cross-doc-repeated spans (see header
        // for the measured A/B against the flag-join alternative)
        val r = onRepeatedSpans(ds, "h")
          .groupBy(col("doc_id")).agg(sum(col("occn")).as("n_rep"))
        // totals: tokenize-only arithmetic, no explode — the cheap pass
        tk.select(col("doc_id"),
            (size(col("tk")) - 7).cast("long").as("n_spans"))
          .join(r, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_spans"),
            coalesce(col("n_rep"), lit(0L)).as("n_rep_occ"),
            (floor(coalesce(col("n_rep"), lit(0L)) * 10000.0
              / col("n_spans").cast("double") + 0.5) / 10000).as("rep_frac"))
          .orderBy(col("doc_id"))
      }),

    // ------------------------------------------------------------------
    // q152: VARIABLE-LENGTH LONGEST SHARED RUN (the missing half of
    // q102: that query fixes the span length at 8 tokens, but the
    // ExactSubstr policy Lee et al. 2021 actually threshold — "drop a
    // doc on a ≥50-character cross-doc match" — wants each doc's
    // LONGEST shared run at arbitrary length). A doubling-length sweep
    // L ∈ {8, 16, 32, 64} over q102's fingerprint machinery: a doc's
    // max_shared_len is the largest grid length at which some sliding
    // L-token span of it occurs in ≥ 2 distinct documents — a
    // tight-to-within-2× lower bound on the true longest shared run
    // (sub-spans of a shared run are shared, so the per-doc flag is
    // MONOTONE in L and the grid max is well-defined). That is the
    // number a ≥50-char drop policy thresholds on.
    // Scale shape: ONE documents scan emits every span at every
    // eligible length as a fixed-width (len, hash56) pair — never a
    // string — so the dedup/count/rollup chain shuffles ~4n small rows
    // with map-side combine; rep-set membership is a (len, hash) semi
    // join; the final rollup is one max per doc. Above CASCADE_LIMIT
    // docs the CASCADE branch runs instead (round 17 — previously a
    // documented-but-unimplemented deployment shape): docs clean at L
    // never contain a shared 2L-run — both endpoints of any shared
    // pair are flagged at every shorter length — so level L+1 only
    // rescans level-L's flagged docs; the gate is injectable and
    // DedupSpec forces BOTH branches to identical output on the
    // planted-run fixture. Both engines hash identically, so fingerprint semantics
    // including the astronomically-unlikely 56-bit collision are
    // SHARED — the compare stays exact (the q102 argument).
    Q("q152_longest_shared_run",
      oracle = Some(s"""
        WITH tkq152 AS (
          SELECT doc_id, ${TextFns.sql.tokens} AS tk
          FROM documents WHERE text IS NOT NULL),
        baseq152 AS (
          SELECT doc_id, tk FROM tkq152 WHERE len(tk) >= 8),
        lens AS (
          SELECT CAST(l AS BIGINT) AS l
          FROM (VALUES (8), (16), (32), (64)) AS t(l)),
        occ AS (
          SELECT doc_id, l,
                 ${TextFns.sql.hash56(
                   "md5(array_to_string(tk[i:i + CAST(l AS INTEGER) - 1], ' '))",
                   1)} AS h
          FROM (SELECT doc_id, l, tk,
                       unnest(range(1, len(tk) - CAST(l AS INTEGER) + 2)) AS i
                FROM baseq152, lens
                WHERE len(tk) >= l) sq152),
        ds AS (SELECT DISTINCT doc_id, l, h FROM occ),
        rep AS (SELECT l, h FROM ds GROUP BY l, h HAVING count(*) >= 2),
        fl AS (
          SELECT doc_id, max(l) AS ms
          FROM ds JOIN rep USING (l, h) GROUP BY doc_id)
        SELECT b.doc_id, CAST(coalesce(f.ms, 0) AS BIGINT) AS max_shared_len
        FROM baseq152 b LEFT JOIN fl f USING (doc_id)
        ORDER BY b.doc_id"""),
      run = (spark, dir) => longestSharedRun(table(spark, dir, "documents"))),

    // ------------------------------------------------------------------
    // q118: PREFIX-FILTERED ALL-PAIRS SIMILARITY JOIN (Bayardo et al.
    // 2007 "Scaling Up All Pairs Similarity Search" / PPJoin) — the
    // EXACT counterpart of q17's LSH and q35's rare-shingle blocking:
    // sort every doc's distinct shingles by one GLOBAL canonical order
    // (document frequency ascending, then shingle — rarest first), keep
    // only each doc's first p = s − ⌈t·s⌉ + 1 as its candidate-
    // generating prefix. Any pair with J ≥ t shares at least ⌈t·max(
    // |A|,|B|)⌉ shingles, so the globally-smallest shared shingle sits
    // inside BOTH prefixes — candidates have PERFECT RECALL (unlike
    // LSH), while the rare-first order makes the equi-join on prefix
    // shingles near-minimal (frequent boilerplate shingles land at the
    // tails and never generate pairs). Verification uses the same
    // hash-array representation as the shared TextDedup core.
    //
    // Scale shape: df histogram is one groupBy; per-doc ordering is one
    // window partitioned by doc; the prefix explode carries ~(1−t) of
    // the distinct-shingle mass; the join key is (shingle) with rare-
    // first skew profile — the heaviest remaining key has df bounded by
    // the candidate pool itself. Exactness costs a constant factor over
    // q17's LSH, which is the documented trade: LSH when recall<1 is
    // acceptable, prefix filtering when the dedup must be PROVABLY
    // complete (legal/compliance-grade dedup).
    Q("q118_prefix_filter_join",
      oracle = Some(s"""
        $shinglesCte,
        exq118 AS (
          SELECT DISTINCT doc_id, ${TextFns.sql.hash56("md5(s)", 1)} AS h
          FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
        dfq AS (SELECT h, count(*) AS df FROM exq118 GROUP BY h),
        szq AS (SELECT doc_id, count(*) AS n FROM exq118 GROUP BY doc_id),
        ordq AS (
          SELECT e.doc_id, e.h, z.n,
                 row_number() OVER (PARTITION BY e.doc_id
                                    ORDER BY d.df, e.h) AS rk
          FROM exq118 e JOIN dfq d USING (h) JOIN szq z USING (doc_id)),
        pref AS (
          SELECT doc_id, h, n, rk FROM ordq
          WHERE rk <= n - CAST(ceil($NGRAM_JACCARD_MIN * n) AS BIGINT) + 1),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM pref a JOIN pref b
            ON a.h = b.h AND a.doc_id < b.doc_id
            AND a.n >= CAST(ceil($NGRAM_JACCARD_MIN * b.n) AS BIGINT)
            AND b.n >= CAST(ceil($NGRAM_JACCARD_MIN * a.n) AS BIGINT)
            AND 1 + least(a.n - a.rk, b.n - b.rk) >=
                CAST(ceil($NGRAM_JACCARD_MIN * (a.n + b.n) /
                          (1 + $NGRAM_JACCARD_MIN)) AS BIGINT)),
        haq AS (SELECT doc_id, list(h) AS hs, count(*) AS n
                FROM exq118 GROUP BY doc_id)
        SELECT doc_a, doc_b,
               round(len(list_intersect(x.hs, y.hs)) * 1.0 /
                     (x.n + y.n - len(list_intersect(x.hs, y.hs))), 4)
                 AS jaccard
        FROM pairs
        JOIN haq x ON x.doc_id = doc_a
        JOIN haq y ON y.doc_id = doc_b
        WHERE len(list_intersect(x.hs, y.hs)) * 1.0 /
              (x.n + y.n - len(list_intersect(x.hs, y.hs)))
              >= $NGRAM_JACCARD_MIN
        ORDER BY doc_a, doc_b"""),
      run = (spark, dir) =>
        // localize BEFORE the total order: a global orderBy without a
        // limit plans a range sort whose partitioner SAMPLES the child -
        // executing this whole join pipeline twice (measured 13.2s ->
        // 3.4s). The verified pair set is result-sized; sort it as a
        // local relation.
        Q.localized(q118PairsPlan(spark, dir))
          .orderBy(col("doc_a"), col("doc_b"))),

    // ------------------------------------------------------------------
    // q127: EDIT-DISTANCE-1 SIMILARITY JOIN via deletion-neighborhood
    // blocking (FastSS; Bocek et al. 2007) — the string-similarity
    // family the set-based detectors cannot express: entity names
    // within ONE edit (typo-grade record linkage over insert / delete /
    // substitute). The blocking is pigeonhole-COMPLETE for k = 1, the
    // same contract as q19's bands: keys(s) = {s} ∪ {s with char i
    // deleted}, and ed(s,t) ≤ 1 forces a shared key — a substitution at
    // i makes del(s,i) = del(t,i); an insert/delete makes deleting the
    // extra char from the longer yield the shorter itself (its pos-0
    // key). Sharing a key only bounds ed ≤ 2, so survivors are verified
    // with a THRESHOLD-bounded levenshtein (banded DP, early exit).
    // Scale shape: the candidate-key space GROWS with the name
    // dictionary (keys are name-specific variants, never a fixed key
    // space — the q19 lesson, pre-applied), so bucket occupancy tracks
    // type-level near-duplication, not corpus size; the exchange
    // carries (64-bit xxhash of the variant, short name) — a hash
    // collision can only ADD a candidate, never lose one, and the
    // levenshtein verify kills it; the verify filter runs BEFORE the
    // pair distinct (only survivors dedup — q19's exchange rule); the
    // dictionary build is one hash-agg distinct, vocabulary-sized. The
    // oracle replays exact semantics O(n²) with a length prefilter —
    // affordable at oracle scale, which is exactly why the engine side
    // blocks instead of scanning pairs.
    Q("q127_editdist_join",
      oracle = Some("""
        WITH n AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM n a JOIN n b
          ON a.p_name < b.p_name
          AND abs(length(a.p_name) - length(b.p_name)) <= 1
        WHERE levenshtein(a.p_name, b.p_name) <= 1
        ORDER BY name_a, name_b"""),
      run = (spark, dir) => {
        val names = table(spark, dir, "part")
          .select(col("p_name").as("name")).distinct()
        // localize before the total order (q118's rationale: a global
        // sort samples its child, executing the join pipeline twice;
        // the verified pair set is result-sized)
        Q.localized(editDist1Pairs(names))
          .orderBy(col("name_a"), col("name_b"))
      }),

    // ------------------------------------------------------------------
    // q146: TRAIN/TEST SPLIT-LEAKAGE AUDIT — the check every eval split
    // needs before a benchmark number is trusted: a test doc with a
    // TRAIN near-duplicate measures memorization, not generalization
    // (the published-split contamination studies' core finding). The
    // audit composes two registered constructions verbatim — q85's
    // deterministic hash split and q17's MinHash-verified near-dup pair
    // graph — and classifies every verified pair by the split pair it
    // straddles: (split_a, split_b, n_pairs, n_leaked_docs), sides
    // normalized by sensitivity rank (train < val < test) so split_a is
    // always the less-sensitive side, and n_leaked_docs counting the
    // DISTINCT docs on the MORE-sensitive side of cross-split pairs —
    // the val/test rows whose eval integrity is compromised (same-split
    // dup pairs are dedup's business, not leakage: 0 there).
    // Scale shape: the split label is a PURE HASH of doc_id (the q85
    // Sampling.hashSplit function, applied to each pair side under the
    // same 'split' domain), so the audit never joins back to the corpus
    // — it is a MAP over the shared pair artifact
    // (verifiedPairsIndexed, built once per corpus) plus a ≤ 6-group
    // rollup: pair-graph-sized, never corpus-sized, zero data-scale
    // shuffles. The oracle re-derives pairs AND split labels inline.
    Q("q146_split_leakage",
      oracle = Some(s"""
        WITH $verifiedPairsCteBody,
        spl AS (
          SELECT doc_a, doc_b,
                 CASE
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_a AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9000 THEN 0
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_a AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9500 THEN 1
                   ELSE 2 END AS ra,
                 CASE
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_b AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9000 THEN 0
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_b AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9500 THEN 1
                   ELSE 2 END AS rb
          FROM vp),
        nm AS (
          SELECT CASE least(ra, rb) WHEN 0 THEN 'train' WHEN 1 THEN 'val'
                   ELSE 'test' END AS split_a,
                 CASE greatest(ra, rb) WHEN 0 THEN 'train' WHEN 1 THEN 'val'
                   ELSE 'test' END AS split_b,
                 CASE WHEN ra = rb THEN NULL
                      WHEN ra < rb THEN doc_b ELSE doc_a END AS leaked_doc
          FROM spl)
        SELECT split_a, split_b, count(*) AS n_pairs,
               CAST(count(DISTINCT leaked_doc) AS BIGINT) AS n_leaked_docs
        FROM nm GROUP BY split_a, split_b
        ORDER BY split_a, split_b"""),
      run = (spark, dir) =>
        splitLeakageCensus(verifiedPairsIndexed(spark, dir))),

    // ------------------------------------------------------------------
    // q150: SPLIT-LEAKAGE REPAIR — q146's measurement feeding the ACT
    // (the q131→q132 measure→decide discipline on the leakage axis):
    // decontaminate TRAIN against the eval splits by dropping every
    // train doc that is a near-duplicate of a val/test doc — the
    // standard repair (eval stays fixed so benchmark numbers remain
    // comparable; train sheds the memorization channel). Direct pairs
    // only, by declared semantics: one hop of the verified pair graph
    // (the transitive closure is q109's cluster machinery; chained
    // near-dup leakage decays with each hop and published
    // decontamination drops direct matches). Output: per-split census
    // (n_docs, n_removed, n_kept) — train shows the cost of the
    // repair, val/test rows pin that eval was untouched.
    // Scale shape: the removal set derives from the PAIR artifact with
    // split labels as inline hash arithmetic (q146's no-rejoin rule) —
    // pair-graph-sized; the corpus pass is one narrow scan labeled by
    // the same hash plus a broadcast LEFT SEMI membership probe and a
    // ≤3-group rollup. No corpus shuffle, no join wider than the
    // removal id set.
    Q("q150_split_repair",
      oracle = Some(s"""
        WITH $verifiedPairsCteBody,
        lbl AS (
          SELECT doc_a, doc_b,
                 CASE
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_a AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9000 THEN 0
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_a AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9500 THEN 1
                   ELSE 2 END AS ra,
                 CASE
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_b AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9000 THEN 0
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_b AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9500 THEN 1
                   ELSE 2 END AS rb
          FROM vp),
        rm AS (
          SELECT DISTINCT CASE WHEN ra = 0 THEN doc_a ELSE doc_b END AS doc_id
          FROM lbl WHERE least(ra, rb) = 0 AND greatest(ra, rb) > 0),
        spl AS (
          SELECT doc_id,
                 CASE
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9000 THEN 'train'
                   WHEN (CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 6))
                         AS BIGINT) % 10000) < 9500 THEN 'val'
                   ELSE 'test' END AS split
          FROM documents)
        SELECT split, count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM rm)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM rm)
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        FROM spl GROUP BY split ORDER BY split"""),
      run = (spark, dir) => {
        // removal set: train-side docs of cross-split pairs — derived
        // from the pair artifact, labels inline (the q146 shape)
        val rm = splitLabeledPairs(verifiedPairsIndexed(spark, dir))
          .filter(least(rk(col("spa")), rk(col("spb"))) === 0 &&
            greatest(rk(col("spa")), rk(col("spb"))) > 0)
          .select(when(rk(col("spa")) === 0, col("doc_a"))
            .otherwise(col("doc_b")).as("doc_id"))
          .distinct()
          .withColumn("rm", lit(1L))
        graft.operators.Sampling.hashSplit(
            table(spark, dir, "documents").select(col("doc_id")),
            "doc_id", graft.operators.Sampling.CorpusSplits)
          .join(broadcast(rm), Seq("doc_id"), "left")
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("rm"), lit(0L))).as("n_removed"),
            sum(when(col("rm").isNull, 1L).otherwise(0L)).as("n_kept"))
          .orderBy(col("split"))
      })
  )

  /** The split-sensitivity rank shared by q146/q150 (train < val <
    * test): leakage direction is defined by which side is MORE
    * sensitive, so the ordering must be one definition. */
  private def rk(c: org.apache.spark.sql.Column) =
    when(c === "train", 0).when(c === "val", 1).otherwise(2)

  /** A pair frame with both sides labeled by q85's shared split spec
    * ([[graft.operators.Sampling.CorpusSplits]]) — the q146/q150
    * common front half: labels recomputed as pure hash arithmetic on
    * the pair side, the corpus never rejoined. */
  private def splitLabeledPairs(pairs: DataFrame): DataFrame = {
    import graft.operators.Sampling
    Sampling.hashSplit(
      Sampling.hashSplit(pairs, "doc_a", Sampling.CorpusSplits, "spa"),
      "doc_b", Sampling.CorpusSplits, "spb")
  }

  /** q146's census over any (doc_a, doc_b) pair frame: label each side
    * with q85's hash split (recomputed — the label is a pure function of
    * the id, so the corpus is never rejoined), normalize by sensitivity
    * rank (train < val < test), count pairs and distinct compromised
    * more-sensitive-side docs per split pair. */
  private[queries] def splitLeakageCensus(pairs: DataFrame): DataFrame = {
    splitLabeledPairs(pairs)
      .select(
        when(rk(col("spa")) <= rk(col("spb")), col("spa"))
          .otherwise(col("spb")).as("split_a"),
        when(rk(col("spa")) <= rk(col("spb")), col("spb"))
          .otherwise(col("spa")).as("split_b"),
        when(rk(col("spa")) === rk(col("spb")), lit(null).cast("long"))
          .when(rk(col("spa")) < rk(col("spb")), col("doc_b"))
          .otherwise(col("doc_a")).as("leaked_doc"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("leaked_doc")).as("n_leaked_docs"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** q127's candidate-key relation (name, vk): each name keyed by
    * itself and by every single-character deletion. */
  private def editDist1Keys(names: DataFrame): DataFrame = {
    // pos 0 keeps the name itself; pos i ∈ 1..len deletes char i. One
    // substr/concat formula covers both ends (substr(1, -1) = "" and
    // substr(len+1, ·) = ""), staying inside whole-stage codegen — no
    // interpreted higher-order transform lambda on the hot path.
    val variant = concat(
      col("name").substr(lit(1), col("pos") - 1),
      col("name").substr(col("pos") + 1, length(col("name"))))
    names
      .select(col("name"),
        explode(sequence(lit(0), length(col("name")))).as("pos"))
      .select(col("name"), xxhash64(variant).as("vk"))
      // repeated chars make duplicate variants ("aab" → "ab" twice);
      // one distinct here keeps the join from multiplying them
      .distinct()
  }

  /** q127's pair pipeline over a single-column (`name`) relation —
    * extracted so the spec can drive it against exhaustive in-JVM
    * ground truth and PlanSpec can pin the physical shape. Emits
    * (name_a, name_b, dist) for every distinct unordered pair of
    * distinct names at levenshtein distance exactly 1 (two DISTINCT
    * strings are never at distance 0, and `name_a < name_b` already
    * forces distinctness whatever the input's multiplicity). */
  private[queries] def editDist1Pairs(names: DataFrame): DataFrame = {
    val keyed = editDist1Keys(names)
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.vk") === col("b.vk") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        levenshtein(col("a.name"), col("b.name"), 1).cast("long")
          .as("dist"))
      // threshold levenshtein returns -1 past the bound; distinct
      // strings are never at 0 — exact-1 is the full ≤1 semantics
      .filter(col("dist") === 1)
      .distinct()
  }

  /** q118's candidate-pair relation over the prefix index: equi-join on
    * prefix shingle hash with the PPJoin length + positional filters —
    * a true pair's overlap o >= ceil(t(na+nb)/(1+t)) and beyond the
    * first shared element only min(na-rk_a, nb-rk_b) shared elements
    * can remain; both bounds hold at the globally-smallest shared
    * element. */
  private def q118Candidates(pref: DataFrame): DataFrame = {
    val t = NGRAM_JACCARD_MIN
    pref.as("a")
      .join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") >= ceil(lit(t) * col("b.n")) &&
          col("b.n") >= ceil(lit(t) * col("a.n")) &&
          (lit(1) + least(col("a.n") - col("a.rk"),
            col("b.n") - col("b.rk"))) >=
            ceil(lit(t) * (col("a.n") + col("b.n")) / lit(1 + t)))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** q118's full candidate-join + verify pipeline, pre-localization —
    * exposed so PlanSpec can pin the executed shape (steady-state index
    * scan, hash-only exchanges, codegen intersect-count verify).
    * `broadcastLimit` is the injectable doc-count gate for the
    * broadcast-vs-shuffle array attach (default 2²⁰ docs) — the
    * pageRank(localLimit) discipline, so Q118GateSpec can FORCE the
    * at-scale shuffle branch on a fixture instead of leaving it dead
    * code under test. */
  private[queries] def q118PairsPlan(spark: SparkSession, dir: String,
      broadcastLimit: Long = 1L << 20): DataFrame = {
    val idx = q118Index(spark, dir)
    val pref = ArtifactStore.readPublished(spark, s"$idx/pref")
    val shArr = ArtifactStore.readPublished(spark, s"$idx/sharr")
    // candidate join with the PPJoin length + positional filters (see
    // q118Candidates) — recall stays perfect while the measured sf0.1
    // candidate count drops 522k -> 205k
    val pairs = q118Candidates(pref)
    // array-intersect verify over 56-BIT HASH arrays (the q102
    // "strings never shuffle" discipline): every stage of this
    // query - canonical order, prefix join, verify - runs in the
    // hash domain, so exchanges carry longs and the intersect
    // compares longs, not ~30-char shingle strings (measured 115s
    // -> see PERF.md at the 10x replica, where the planted copy
    // families grow candidates ~45x). Both engines hash with the
    // same md5 half, so the hashed Jaccard is IDENTICAL across
    // engines even in the (astronomically unlikely) collision
    // case - the gate compares the same quantity.
    // BROADCAST the per-doc array side when it fits (the family's
    // doc-count gate, TextDedup.broadcastUnder — a footer-cheap parquet
    // count here). The candidate relation is quadratic-ish in planted
    // duplication (19.9M rows at the 10× replica for 250.6k true pairs)
    // while the array side is corpus-doc-bounded — shuffling and
    // twice-sorting the 19.9M side through a SortMergeJoin to attach
    // 1KB of arrays per row measured 32.2s; the broadcast form is 3.2s
    // (identical output). Past the gate the join falls back to shuffle
    // (Q118GateSpec forces this branch and pins identical output).
    val sh = TextDedup.broadcastUnder(shArr, broadcastLimit)
    TextDedup.jaccardAtLeast(TextDedup.overlapStats(pairs, sh, sh),
        NGRAM_JACCARD_MIN)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** q118's durable PPJoin index (ArtifactStore, keyed by the documents
    * files' identity): the inverted prefix index `pref` (doc_id, s, n,
    * rk — shingles canonically ordered rarest-first, prefix-filtered)
    * and the per-doc shingle arrays `sharr` (doc_id, sharr, nsh) are
    * pure derivations of the corpus — built once per corpus across
    * processes, parquet after. The oracle re-derives both inline in
    * SQL, so the gate value-checks the derivation itself. */
  private def q118Index(spark: SparkSession, dir: String): String =
    docsArtifact(spark, dir, "ppjoin_index") { p =>
      val t = NGRAM_JACCARD_MIN
      // distinct shingle sets, hashed to 56-bit longs IMMEDIATELY -
      // prefix theory is over SETS, and every downstream stage (order,
      // join, verify) runs in the hash domain so strings never leave
      // this projection
      val ex = TextDedup.hashedShingles(shingleRows(spark, dir)).persist()
      val dfq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      val wN = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
      ex.join(dfq, "h")
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wN))
        .filter(col("rk") <= col("n") - ceil(lit(t) * col("n")) + 1)
        .select(col("doc_id"), col("h"), col("n"), col("rk"))
        .write.mode("overwrite").parquet(s"$p/pref")
      // harr stored SORTED: IntersectCountUtil detects sorted inputs in
      // one linear pass, so the per-candidate-pair verify is a pure
      // merge — the sort is paid once per doc at build time, not once
      // per candidate pair at query time
      TextDedup.sortedArrays(ex).write.mode("overwrite").parquet(s"$p/sharr")
      ex.unpersist(blocking = false)
      ()
    }

  /** q78's deterministic corpus/batch split: (corpus = md5-decile < 8,
    * batch = decile >= 8) of `documents` — the q72 construction, so both
    * engines derive identical inputs. */
  private def q78Split(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val b0 = table(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6),
          16, 10).cast("long"), lit(10L)).as("dec"))
    (b0.where(col("dec") < 8).select(col("doc_id"), col("text")),
      b0.where(col("dec") >= 8).select(col("doc_id"), col("text")))
  }

  // Shared verified near-dup pair ARTIFACT: q17, q52 and q73 all consume
  // the same shingle→MinHash→LSH→Jaccard derivation over the full
  // documents table (q73's header has always said "reuses the q17 pair
  // pipeline verbatim"), but through round 9 each query re-ran it —
  // ~74s of the 234s 10× suite was this one derivation executed three
  // times. Round 12 lifts it into the durable ArtifactStore (keyed by
  // the documents files' identity): the verified pair relation (doc_a,
  // doc_b, RAW jaccard) is materialized to parquet ONCE per corpus
  // across processes and every later consumer reads the artifact.
  // Sharing is sound because a doc's signature/bands depend only on its
  // own text and jaccard(a,b) only on the two texts, so pairs(S) =
  // pairs(full) ∩ S×S for any id subset S — q52's survivor-side pairs
  // are exactly the artifact semi-joined to its exact-dedup survivors
  // (TextDedupSpec pins that equality). Correctness is unaffected by
  // construction: each oracle re-derives the full pipeline inline in
  // SQL, so the artifact contents themselves are what the DuckDB gate
  // value-checks.

  /** q152's doubling length grid — each point a PREFIX-doubling of the
    * q102 span length, topping out past the ~50-char ExactSubstr drop
    * threshold (64 tokens ≫ 50 chars at any realistic token width). */
  private[queries] val RUN_LENGTHS: Seq[Int] = Seq(8, 16, 32, 64)

  /** q152's size gate: at or below this many documents the single-pass
    * union (all four span lengths emitted in ONE scan) wins on scan
    * count; above it the CASCADE branch runs — level L+1 re-tokenizes
    * ONLY level-L's flagged docs. Soundness is the monotone sub-span
    * property (every holder of a cross-doc-repeated 2L-span holds
    * shared L-spans, so ALL holders of any level-2L repeated span
    * survive the level-L cut — the per-level rep sets are IDENTICAL,
    * DedupSpec forces branch equality on the planted-run fixture): at
    * a 100 TB corpus the flagged fraction after level 8 is typically
    * percent-scale, so levels 16/32/64 scan a sliver instead of ~3
    * more corpus-width span emissions. Injectable per the repo's
    * standing size-gate rule; production uses the default. The gate
    * measures the RAW input row count (metadata-only when the input is
    * a bare parquet scan; derived frames pass their count in — see
    * [[longestSharedRun]]). */
  private[queries] val CASCADE_LIMIT: Long = 2000000L

  /** q152's pipeline over any (doc_id, text) frame: per-doc longest
    * cross-doc shared token run on the [[RUN_LENGTHS]] doubling grid.
    * Below [[CASCADE_LIMIT]] docs: one scan emits every span at every
    * eligible length as a fixed-width (len, hash56) struct (CaseWhen
    * keeps the sequence() bounds legal — the otherwise-branch empty
    * array is never built for eligible lengths); everything after
    * shuffles small rows. Above it: [[cascadeLSR]]. */
  private[queries] def longestSharedRun(docs: DataFrame,
      cascadeLimit: Long = CASCADE_LIMIT,
      cut: graft.exec.Materializer = graft.exec.Materializer.Local,
      docCount: Option[Long] = None)
      : DataFrame = {
    // The size gate counts RAW input rows (including null-text rows the
    // eligible base below excludes) — a branch heuristic, not a semantic
    // input; the raw count is the one that stays metadata-only when
    // `docs` is a bare parquet scan (q152's registration). It is a Spark
    // ACTION fired at DataFrame-construction time (the two branches are
    // different plans, so the decision cannot defer); callers holding a
    // filtered/derived frame — where counting would be a full scan —
    // pass `docCount` to skip it.
    val base = spanBase(docs, RUN_LENGTHS.min)
    if (docCount.getOrElse(docs.count()) > cascadeLimit)
      cascadeLSR(base, cut)
    else singlePassLSR(base)
  }

  /** The at-scale q152 branch: one level per [[RUN_LENGTHS]] entry,
    * each level's span census restricted to the PREVIOUS level's
    * flagged docs (base scans level 8). Per level: distinct (doc_id,
    * hash56 span) rows → repeated-span set (≥ 2 distinct docs) →
    * flagged doc ids, materialized through `cut` (doc-id rows only —
    * a distributed lineage cut, never a driver collect) so level L+1's
    * semi-join and the final rollup don't re-execute earlier levels.
    * Rep-set identity with the single-pass census is the monotone
    * sub-span argument on [[CASCADE_LIMIT]]. */
  private def cascadeLSR(base: DataFrame,
      cut: graft.exec.Materializer): DataFrame = {
    var flaggedPrev: Option[DataFrame] = None
    var acc: Option[DataFrame] = None
    for (len <- RUN_LENGTHS) {
      val scanned = flaggedPrev match {
        case None => base
        case Some(f) => base.join(f, Seq("doc_id"), "left_semi")
      }
      val ds = scanned.filter(size(col("tk")) >= len)
        .select(col("doc_id"), explode(spanHashes(len)).as("h"))
        .distinct()
      val flagged = cut(onRepeatedSpans(ds, "h")
        .select(col("doc_id")).distinct())
      val lvl = flagged.select(col("doc_id"), lit(len.toLong).as("ms"))
      acc = Some(acc.fold(lvl)(_.unionByName(lvl)))
      flaggedPrev = Some(flagged)
    }
    maxSharedLen(base,
      acc.get.groupBy(col("doc_id")).agg(max(col("ms")).as("ms")))
  }

  private def singlePassLSR(base: DataFrame): DataFrame = {
    val emptySpans = array().cast("array<struct<l:bigint,h:bigint>>")
    val spanArrs = RUN_LENGTHS.map { len =>
      when(size(col("tk")) >= len,
        spanHashes(len, h => struct(lit(len.toLong).as("l"), h.as("h"))))
        .otherwise(emptySpans)
    }
    val ds = base
      .select(col("doc_id"), explode(flatten(array(spanArrs: _*))).as("s"))
      .select(col("doc_id"), col("s.l").as("l"), col("s.h").as("h"))
      .distinct()
    maxSharedLen(base, onRepeatedSpans(ds, "l", "h")
      .groupBy(col("doc_id")).agg(max(col("l")).as("ms")))
  }

  /** q152's tail: each base doc's flagged `ms`, 0 when none. */
  private def maxSharedLen(base: DataFrame, fl: DataFrame): DataFrame =
    base.select(col("doc_id"))
      .join(fl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ms"), lit(0L)).as("max_shared_len"))
      .orderBy(col("doc_id"))

  /** q102/q152's span base: (doc_id, tk) of texts of >= `minLen` tokens. */
  private def spanBase(docs: DataFrame, minLen: Int): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= minLen)

  /** The rows of a one-row-per-(doc, span key) relation whose key is held
    * by >= 2 distinct docs. */
  private def onRepeatedSpans(ds: DataFrame, keys: String*): DataFrame =
    ds.join(ds.groupBy(keys.map(col): _*).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(keys.map(col): _*), keys, "left_semi")

  /** q102/q152's span fingerprint: hash56(md5) of every sliding
    * `len`-token span of `tk`, each through `wrap`. */
  private def spanHashes(len: Int,
      wrap: Column => Column = identity): Column =
    transform(sequence(lit(1), size(col("tk")) - (len - 1)),
      i => wrap(TextFns.hash56(
        md5(array_join(slice(col("tk"), i, lit(len)), " ")), 1)))

  /** The materialized verified-pair relation for `dir` (built at most
    * once per corpus across processes; a plain parquet read afterwards
    * — PlanSpec pins that the steady-state q17 plan is a scan of this
    * artifact, not a re-derivation). */
  private[queries] def verifiedPairsIndexed(spark: SparkSession,
      dir: String): DataFrame =
    // "-mkm1" versions the DERIVATION (round 14's modular-KM minhash):
    // a formula change must change the artifact key, or a store shared
    // across engine versions serves pairs computed with the old hashes
    publishedPlan(spark, dir, "neardup_pair_index", "-mkm1")(
      TextDedup.nearDuplicatePairsPlan(table(spark, dir, "documents"),
        "doc_id", "text", JACCARD_MIN, NUM_HASHES))

  // The q35/q69 twin of the artifact above: both queries derive the SAME
  // rare-shingle-blocked pair-overlap relation (doc_a, doc_b, na, nb,
  // n_inter) and differ only in the closed-form score computed from it
  // (symmetric Jaccard vs asymmetric containment) — so the overlap stats
  // are materialized UNTHRESHOLDED once per (process, sfDir) and each
  // query is a scan + arithmetic + its own filter. Same soundness story:
  // the oracles re-derive everything inline in SQL.
  private[queries] def rareOverlapIndexed(spark: SparkSession,
      dir: String): DataFrame =
    publishedPlan(spark, dir, "rare_overlap_stats")(
      TextDedup.candidateOverlapPlan(shingleRows(spark, dir))(rareBlockedPairs))

  /** ArtifactStore `family` entry keyed by `dir`'s documents + `version`. */
  private def docsArtifact(spark: SparkSession, dir: String, family: String,
      version: String = "")(build: String => Unit): String =
    ArtifactStore.ensure(spark, family,
      ArtifactStore.sourceKey(spark, dir, "documents") + version)(build)

  /** A [[docsArtifact]] of one (plan, persisted) relation, read back. */
  private def publishedPlan(spark: SparkSession, dir: String, family: String,
      version: String = "")(plan: => (DataFrame, Seq[DataFrame])): DataFrame =
    ArtifactStore.readPublished(spark,
      docsArtifact(spark, dir, family, version) { p =>
        val (df, cached) = plan
        df.write.mode("overwrite").parquet(p)
        cached.foreach(_.unpersist(blocking = false))
      })

  // q78's durable materialized dedup index (ArtifactStore: built at
  // most once per corpus across processes, read-only afterwards — the
  // q78 query never appends, so sharing is sound; Bench's steady state
  // pays only the batch side). The "-v3" key suffix versions the INDEX
  // FORMAT + DERIVATION (v2: round 12 added the harr verify table;
  // v3: round 14's modular-KM minhash changed the stored band keys): a
  // format or formula bump must change the artifact key, or a store
  // shared across engine versions would serve stale bytes to the new
  // reader.
  private def q78Index(spark: SparkSession, dir: String): String =
    docsArtifact(spark, dir, "q78_dedup_index", "-v3") { path =>
      TextDedup.buildDedupIndex(
        q78Split(spark, dir)._1, "doc_id", "text", path)
    }

  /** q73's stat block over a canonical (doc_a < doc_b) edge relation:
    * degree histogram (`deg_<d>` rows — hubs INCLUDED, surfacing them is
    * the histogram's job), `nodes`, `edges`, `excluded_hubs` (nodes with
    * degree > `degreeCap`), and `triangles` counted over the hub-free
    * edge subset only. The cap bounds the triangle join at Σ deg² ≤
    * n·cap² no matter how pathological the boilerplate hub — the hub's
    * own edges are anti-joined out (broadcast: the hub set is tiny by
    * construction) before the two-equi-join enumeration. Extracted from
    * the q73 body so GraphStatsSpec can drive it with a synthetic
    * 10k-degree star directly. */
  private[graft] def graphStats(e: DataFrame, degreeCap: Long): DataFrame = {
    val deg = e.select(col("doc_a").as("node"))
      .unionAll(e.select(col("doc_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("value"))
      .select(concat(lit("deg_"), col("degree").cast("string")).as("stat"),
        col("value"))
    val hubs = deg.filter(col("degree") > degreeCap).select(col("node"))
    val eTri = e
      .join(broadcast(hubs.withColumnRenamed("node", "doc_a")),
        Seq("doc_a"), "left_anti")
      .join(broadcast(hubs.withColumnRenamed("node", "doc_b")),
        Seq("doc_b"), "left_anti")
    val tri = eTri.as("e1")
      .join(eTri.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .join(eTri.as("e3"),
        col("e3.doc_a") === col("e1.doc_a") &&
          col("e3.doc_b") === col("e2.doc_b"))
      .agg(count(lit(1)).as("value"))
      .select(lit("triangles").as("stat"), col("value"))
    val base = deg.agg(count(lit(1)).as("value"))
      .select(lit("nodes").as("stat"), col("value"))
      .unionAll(e.agg(count(lit(1)).as("value"))
        .select(lit("edges").as("stat"), col("value")))
      .unionAll(hubs.agg(count(lit(1)).as("value"))
        .select(lit("excluded_hubs").as("stat"), col("value")))
    hist.unionAll(tri).unionAll(base)
  }
}
