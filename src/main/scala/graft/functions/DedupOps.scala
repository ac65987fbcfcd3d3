package graft.functions

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import SharedHash.{h64, h64Sql}

/** Deduplication operators for a large-scale training-data pipeline over
  * the `documents` table: exact (hash group-by), MinHash+LSH banding,
  * SimHash signatures, and n-gram Jaccard verification.
  *
  * Scale design (the 100 TB path):
  *  - exact dedup is a single hash-shuffle on a 16-byte digest — the
  *    shuffle carries (digest, doc_id) only, never the document text;
  *  - MinHash signatures are a pure map; candidate generation shuffles on
  *    (band, band_key) — the classic LSH band join. Pair count is bounded
  *    by bucket sizes, not n²;
  *  - n-gram Jaccard is the *verify* stage: at scale you run it on LSH
  *    candidates only. Here it is blocked on (lang, source) so the oracle
  *    stays simple while exercising the same blocked-join shape;
  *  - SimHash is a pure map producing a 32-bit signature (near-dup =
  *    small Hamming distance; banding over bit-slices would generate
  *    candidates the same way as MinHash).
  */
object DedupOps {

  private val P = 2147483647L // 2^31-1, Mersenne prime for minhash perms
  private val K = 16          // minhash signature length
  private val B = 4           // LSH bands
  private val R = 4           // rows per band (K = B*R)

  /** Exact dedup: group documents by content digest, keep the smallest
    * doc_id as canonical. One shuffle over (digest, doc_id).
    */
  val dedupExact: QueryDef = QueryDef(
    "dedup_exact",
    """SELECT md5(text) AS text_hash,
      |       min(doc_id) AS canonical_doc_id,
      |       count(*)    AS n_copies
      |FROM documents
      |GROUP BY md5(text)""".stripMargin) { t =>
    t.documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_copies"))
  }

  /** Cross-source priority dedup — the corpus-pipeline keep-rule: when
    * the same document text appears in several sources, keep the copy
    * from the most-trusted source (rank = the source's numeric suffix
    * here; a deployment plugs in its provenance ranking), tie-broken by
    * doc_id for determinism. One hash-shuffle `groupBy` with `min_by`
    * partial aggregation — each map task forwards ONE candidate row per
    * text-hash, so the reduce side sees O(distinct texts), never
    * O(copies); the window-function formulation (rank-within-group)
    * would sort every copy group instead. The oracle's window form is
    * the readable spec; the engine runs the agg form.
    */
  /** Keep-rule ordering shared by [[dedupKeepBest]] and the composed
    * curation pipeline (CorpusOps.corpusCurationE2e): lowest source
    * rank wins, doc_id breaks ties deterministically.
    */
  private[functions] def srcRankOrd: Column = struct(
    expr("CAST(substring(source, 4) AS BIGINT)").as("src_rank"), col("doc_id"))

  val dedupKeepBest: QueryDef = QueryDef(
    "dedup_keep_best",
    """WITH d AS (SELECT md5(text) AS text_hash, doc_id, source,
      |                  CAST(substr(source, 4) AS BIGINT) AS src_rank
      |           FROM documents),
      |w AS (SELECT text_hash, doc_id, source,
      |             row_number() OVER (PARTITION BY text_hash
      |                                ORDER BY src_rank, doc_id) AS rn,
      |             count(*) OVER (PARTITION BY text_hash) AS n_copies
      |      FROM d),
      |s AS (SELECT text_hash, count(DISTINCT source) AS n_sources
      |      FROM d GROUP BY 1)
      |SELECT w.text_hash, w.doc_id AS keep_doc_id, w.source AS keep_source,
      |       w.n_copies, s.n_sources
      |FROM w JOIN s USING (text_hash) WHERE w.rn = 1""".stripMargin) { t =>
    val ord = srcRankOrd
    t.documents
      .select(md5(col("text")).as("text_hash"), col("doc_id"), col("source"))
      .groupBy(col("text_hash"))
      .agg(
        min_by(col("doc_id"), ord).as("keep_doc_id"),
        min_by(col("source"), ord).as("keep_source"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"))
  }

  /** Word 3-gram shingles as an array column (shared by minhash/jaccard). */
  private def withShingles(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs
      .withColumn("words", words)
      .filter(size(col("words")) >= 3)
      .withColumn("shingles", array_distinct(transform(
        sequence(lit(0), size(col("words")) - 3),
        i => concat_ws(" ", get(col("words"), i), get(col("words"), i + 1),
          get(col("words"), i + 2)))))
  }

  // NB: no line may START with `||` — stripMargin would eat the first `|`.
  private val shinglesSql =
    """SELECT doc_id, lang, source,
      |  list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
      |    i -> concat(string_split(text,' ')[i], ' ', string_split(text,' ')[i+1],
      |                ' ', string_split(text,' ')[i+2]))) AS shingles
      |FROM documents WHERE len(string_split(text,' ')) >= 3""".stripMargin

  /** Shared CTE chain for the oracle: shingles → hashes → K-minima
    * signature → banded keys → distinct candidate pairs.
    */
  private val lshCandSql =
    s"""sh AS ($shinglesSql),
       |hv AS (SELECT doc_id,
       |         list_transform(shingles, s -> ${h64Sql("s")} % $P) AS hv FROM sh),
       |sig AS (SELECT doc_id,
       |         list_transform(generate_series(0, ${K - 1}),
       |           k -> list_min(list_transform(hv,
       |                  h -> ((2*k + 1) * h + k * 912367 + 341) % $P))) AS sig
       |        FROM hv),
       |bands AS (SELECT doc_id, b.k AS band,
       |            array_to_string(list_transform(
       |              list_slice(sig, b.k*$R + 1, b.k*$R + $R), x -> x::VARCHAR), '-') AS key
       |          FROM sig, (SELECT unnest(generate_series(0, ${B - 1})) AS k) b),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM bands a JOIN bands c
       |           ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)""".stripMargin

  /** K-minima signature column: the native codegen'd
    * [[MinhashSignature]] expression (one pass, primitive accumulator,
    * stays inside WholeStageCodegen), bit-identical to the oracle's SQL
    * fold (MinhashSignatureSpec pins it against the built-in
    * higher-order fold). Shapes previously measured and rejected: per-permutation `array_min(transform(hv,…))`
    * re-evaluates the md5 chain once PER PERMUTATION after Catalyst
    * collapses the projection (K× the hashing cost); explode + K
    * parallel `min` aggregates is 3× slower at sf0.1 (3.9 s vs 1.2 s) —
    * a row per shingle and 16 agg buffers cost more than a per-document
    * fold that never leaves the operator.
    */
  private def sigCol: Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      MinhashSignature(
        org.apache.spark.sql.GraftSqlBridge.expression(col("shingles")), K, P))

  /** Per-bucket pair-generation cap: a bucket with more than this many
    * documents expands pairs only among its [[BucketCap]] smallest
    * doc_ids. The all-pairs-within-bucket blowup is the classic LSH
    * failure mode at adversarial occupancy (k docs sharing a band key
    * generate k²/2 candidates in one task); the cap bounds any single
    * bucket's candidate volume at ~500k pairs. A deliberate recall
    * trade, engine-side only: the DuckDB oracle has no cap, which is
    * sound because gate-corpus occupancy never comes near it (SkewSpec
    * pins max occupancy ≪ cap at sf0.01), and the exact-duplicate hot
    * bands that hit the cap in practice are collapsed to one
    * representative before banding in the cluster path (dedupClusters).
    */
  private[graft] val BucketCap = 1024

  /** (doc_id, band, key) band-bucket rows of a (doc_id, sig) signature
    * frame — the unit both the batch pair expansion and the streamed
    * near-dup index ([[graft.streaming.NearDupIngest]]) are built from.
    */
  private[graft] def bandKeysOfSig(sig: DataFrame): DataFrame =
    sig
      .select(col("doc_id"), explode(transform(sequence(lit(0), lit(B - 1)),
        b => struct(b.as("band"),
          concat_ws("-", transform(slice(col("sig"), b * lit(R) + 1, lit(R)),
            v => v.cast("string"))).as("key")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Band-bucket rows straight from raw documents: shingle → native
    * minhash signature → banded keys. One pure-map pass per doc.
    */
  private[graft] def bandKeys(docs: DataFrame): DataFrame =
    bandKeysOfSig(withShingles(docs).select(col("doc_id"), sigCol.as("sig")))

  /** Banded keys straight from a (checkpointed) hashed-shingle frame —
    * signature computed in hashed mode, md5 already paid.
    */
  private[graft] def bandKeysOfHv(hv: DataFrame): DataFrame =
    bandKeysOfSig(hv.select(col("doc_id"), sigColHv.as("sig")))

  /** Exact-Jaccard verification of an arbitrary candidate pair list
    * against two hash-set sides (they may be the same frame, or a
    * batch-side frame and a persisted fingerprint table). The ≥ 0.5
    * bar is the pipeline's near-dup definition — the same filter
    * `dedup_ngram_jaccard` oracle-checks.
    */
  private[graft] def verifyPairs(pairs: DataFrame, hvA: DataFrame,
      hvB: DataFrame): DataFrame = {
    val a = hvA.select(col("doc_id").as("doc_a"), col("hv").as("hv_a"))
    val b = hvB.select(col("doc_id").as("doc_b"), col("hv").as("hv_b"))
    pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("hv_a"), col("hv_b"))))
      .filter(col("inter").cast("double") /
        (size(col("hv_a")) + size(col("hv_b")) - col("inter")) >= 0.5)
      .select(col("doc_a"), col("doc_b"))
  }

  private[functions] def bandPairs(sig: DataFrame, cap: Int = BucketCap): DataFrame =
    bandPairsOfKeys(bandKeysOfSig(sig), cap)

  /** Banded bucket-local pair expansion over (doc_id, band, key) rows —
    * shape rationale inline. `cap` is parameterized for the skew
    * spec/probe; production paths use [[BucketCap]].
    */
  private[graft] def bandPairsOfKeys(bands: DataFrame, cap: Int = BucketCap): DataFrame = {
    // bucket-LOCAL pair expansion instead of a bucket self-join: the
    // self-join recomputes the whole shingle→md5→signature pipeline on
    // BOTH sides (no exchange to reuse — the sides shuffle under
    // different aliases), where this shape runs it once and shuffles
    // (band, key, doc_id) exactly once. Expansion is TWO-LEVEL: first a
    // row per (doc_a, bucket suffix), then a row per pair — per-row
    // memory stays O(bucket), never the O(bucket²) a single
    // all-pairs-array row would need, and the explode streams pairs into
    // the downstream shuffle instead of materializing them. Residual
    // skew: one task still GENERATES a mega-bucket's k² pairs, bounded
    // by [[BucketCap]]; with minhash's fine-grained band-string keys
    // occupancy stays small — for coarse keys use the self-join
    // (see dedupSimhashPairs).
    bands.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .withColumn("ids", slice(col("ids"), 1, cap))
      .select(posexplode(col("ids")).as(Seq("i", "doc_a")), col("ids"))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("doc_b"))
      .distinct()
  }

  /** Candidate pairs from banded minhash signatures ([[sigCol]]) of a
    * shingled DataFrame: B band keys per document, bucket-local pair
    * expansion.
    */
  private[functions] def lshCandidates(shingled: DataFrame): DataFrame =
    bandPairs(shingled.select(col("doc_id"), sigCol.as("sig")))

  /** MinHash + LSH candidate pairs: shingle → K permuted min-hashes →
    * B bands of R → bucket self-join on (band, key). Emits distinct
    * candidate (doc_a, doc_b) pairs.
    */
  val dedupMinhashLsh: QueryDef = QueryDef(
    "dedup_minhash_lsh",
    s"""WITH $lshCandSql
       |SELECT doc_a, doc_b FROM cand""".stripMargin) { t =>
    lshCandidates(withShingles(t.documents))
  }

  private val SimBits  = SimhashSignature.Bits // 60
  private val SimBands = 4                      // 15-bit bands, SimBits = 4*15
  private val SimBandBits = SimBits / SimBands  // 15 → 32768-way band keys

  /** SimHash signature CTE shared by the signature and pair queries. */
  private val simhashSigSql: String = {
    val bitSums = (0 until SimBits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val bitsToLong = (0 until SimBits)
      .map(j => s"(CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |h AS (SELECT doc_id, ${h64Sql("w")} AS h FROM w),
       |b AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id, $bitsToLong AS simhash FROM b)""".stripMargin
  }

  /** (doc_id, simhash) signatures — bit j set iff the (+1/−1) majority
    * vote of bit j across all word hashes is positive (60 bits — the
    * full entropy of [[SharedHash.h64]]), from the native
    * [[SimhashSignature]] expression: the whole vote folds into an
    * int[60] inside the scan projection — a pure map, where an
    * explode+groupBy form shuffles one row PER WORD and carries 32 agg
    * buffers per document. Bit-identical to the DuckDB oracle's
    * unnest+GROUP BY.
    */
  private[functions] def simhashSigs(docs: DataFrame): DataFrame =
    // NULL-text parity with the oracle: DuckDB's unnest(string_split(NULL))
    // drops the row, so this must filter rather than emit a
    // (doc_id, NULL) signature
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        org.apache.spark.sql.GraftSqlBridge.column(SimhashSignature(
          org.apache.spark.sql.GraftSqlBridge.expression(
            split(col("text"), " ")))).as("simhash"))

  /** SimHash: pure map + one aggregation; near-dup detection = Hamming
    * distance on the result (see [[dedupSimhashPairs]]).
    */
  val dedupSimhash: QueryDef = QueryDef(
    "dedup_simhash",
    s"""WITH $simhashSigSql
       |SELECT doc_id, simhash FROM sim""".stripMargin) { t =>
    simhashSigs(t.documents)
  }

  /** SimHash near-dup pairs via Hamming BANDING: the 60-bit signature
    * splits into four 15-bit bands; any pair within Hamming distance 3
    * must agree on ≥1 band (pigeonhole over 4 bands), so candidates come
    * from a bucket join on (band, band_key) — never an all-pairs scan —
    * and the exact `bit_count(xor)` check verifies them. 15-bit keys
    * give 4 × 32768 buckets (vs 4 × 256 with the old 32-bit/8-bit
    * layout), so per-bucket occupancy — and the within-bucket candidate
    * volume, which grows ~N²/buckets — stays bounded 128× longer as the
    * corpus grows; band-key salting is the next lever after that.
    */
  val dedupSimhashPairs: QueryDef = QueryDef(
    "dedup_simhash_pairs",
    s"""WITH $simhashSigSql,
       |bands AS (SELECT doc_id, simhash, k,
       |            (simhash >> ($SimBandBits*k)) & ${(1 << SimBandBits) - 1} AS key
       |          FROM sim, (SELECT unnest(generate_series(0, ${SimBands - 1})) AS k) t),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |                bit_count(xor(a.simhash, c.simhash)) AS hamming
       |         FROM bands a JOIN bands c
       |           ON a.k = c.k AND a.key = c.key AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3""".stripMargin) { t =>
    val sig = simhashSigs(t.documents)
    val bands = sig.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(SimBands - 1))).as("k"))
      .withColumn("key",
        expr(s"shiftright(simhash, k * $SimBandBits) & ${(1 << SimBandBits) - 1}"))
    // shape choice follows key cardinality (same rule as lshCandidates):
    // 15-bit bands make the keys FINE (4×32768 buckets, occupancy ~1),
    // where bucket-local expansion measured 0.95/1.81 s against a
    // self-join's 1.03/2.88 s over two sf0.1 runs — one (k, key, doc,
    // simhash) shuffle instead of scanning the signature map twice
    // (with the old 8-bit bands the self-join won, 4.8 s vs 10.6 s:
    // large buckets concentrated the quadratic expansion in one task)
    bands.groupBy(col("k"), col("key"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("simhash")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
      .select(col("a.doc_id").as("doc_a"), col("a.simhash").as("sh_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("b"))
      .select(col("doc_a"), col("b.doc_id").as("doc_b"),
        col("sh_a"), col("b.simhash").as("sh_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Jaccard-of-hashed-shingles CTE over the LSH candidates (shared by
    * the verify query and the cluster resolution). Jaccard compares the
    * DISTINCT `h64 mod P` shingle-hash sets, not the strings — both
    * engines hash with the same formula, so collisions (if any) are
    * identical on both sides.
    */
  private val jaccardSql =
    """hvd AS (SELECT doc_id, list_distinct(hv) AS hv FROM hv),
      |j AS (SELECT doc_a, doc_b,
      |             len(list_intersect(sa.hv, sb.hv)) AS inter,
      |             len(sa.hv) AS na, len(sb.hv) AS nb
      |      FROM cand
      |      JOIN hvd sa ON sa.doc_id = cand.doc_a
      |      JOIN hvd sb ON sb.doc_id = cand.doc_b)""".stripMargin

  /** (doc_id, hv): the distinct shingle-hash set (`h64 mod P`), the one
    * intermediate the whole near-dup pipeline runs on — the minhash
    * signature permutes these hashes ([[MinhashSignature]] hashed mode)
    * and the verify stage intersects them. Callers `localCheckpoint` the
    * result so the candidate branch and both verify join branches read
    * ONE materialization: without it each branch is a separate plan that
    * re-scans the documents and re-runs the shingle split + md5 chain
    * (measured: the md5 recompute cost more than hashed-verify saved in
    * shuffle bytes, which is why verify previously shipped the strings).
    * 8-byte hashes also shuffle ~3× fewer bytes than shingle strings.
    */
  private[graft] def hashedShingles(docs: DataFrame): DataFrame =
    // the native n-gram kernel by default: words → distinct shingle
    // hashes in one primitive pass, never materializing the shingle
    // strings (their construction was an interpreted concat_ws lambda
    // per shingle, and the hashing an interpreted md5 Column chain —
    // together they dominated the verify pipeline at 100× corpus;
    // ShingleHashesSpec pins bit-identity against that Column form)
    docs.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"),
        org.apache.spark.sql.GraftSqlBridge.column(ShingleHashes(
          org.apache.spark.sql.GraftSqlBridge.expression(col("words")), P,
          gram = 3)).as("hv"))

  /** [[sigCol]] over the pre-hashed shingle set — same permutation
    * family, md5 already paid by [[hashedShingles]].
    */
  private[functions] def sigColHv: Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      MinhashSignature(
        org.apache.spark.sql.GraftSqlBridge.expression(col("hv")), K, P))

  /** LSH candidates verified by exact Jaccard ≥ 0.5 over the hash sets —
    * the edge set of the near-duplicate graph. Cost is O(candidates),
    * never all-pairs. `hv` must be the (checkpointed) output of
    * [[hashedShingles]].
    */
  private[functions] def verifiedPairsHv(hv: DataFrame): DataFrame = {
    // checkpointed: both the doc-id reduction below and the verify join
    // consume the candidate set, and the sig+band shuffle behind it must
    // not run twice
    val cand = bandPairs(hv.select(col("doc_id"), sigColHv.as("sig")))
      .localCheckpoint()
    // verify payload ∝ docs-in-candidates, not corpus: only a few
    // percent of documents appear in any candidate pair, so reduce the
    // hash-set table to those BEFORE the two verify joins — a broadcast
    // semi-join filter (no shuffle of hv at all), then the joins shuffle
    // kilobytes-per-candidate instead of the whole corpus's hash sets
    // twice. (At a scale where the candidate doc-id set outgrows a
    // broadcast, drop the hint and Spark falls back to a shuffled
    // semi-join — still one corpus shuffle instead of two.)
    val need = broadcast(
      cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct())
    val slim = hv.join(need, Seq("doc_id"), "left_semi")
    val a = slim.select(col("doc_id").as("doc_a"), col("hv").as("hv_a"))
    val b = slim.select(col("doc_id").as("doc_b"), col("hv").as("hv_b"))
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("hv_a"), col("hv_b"))))
      .withColumn("jaccard_raw",
        col("inter").cast("double") / (size(col("hv_a")) + size(col("hv_b")) - col("inter")))
      .filter(col("jaccard_raw") >= 0.5)
  }

  /** n-gram Jaccard verify stage — exact Jaccard computed ONLY for the
    * LSH candidate pairs (the scale-correct pipeline: banding generates
    * candidates, Jaccard verifies them), over the shared hashed-shingle
    * checkpoint.
    */
  val dedupNgramJaccard: QueryDef = QueryDef(
    "dedup_ngram_jaccard",
    s"""WITH $lshCandSql,
       |$jaccardSql
       |SELECT doc_a, doc_b,
       |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
       |FROM j
       |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5""".stripMargin) { t =>
    verifiedPairsHv(hashedShingles(t.documents).localCheckpoint())
      .select(col("doc_a"), col("doc_b"), round(col("jaccard_raw"), 4).as("jaccard"))
  }

  /** Connected components of an undirected edge list by hash-to-min
    * label propagation: every vertex starts as its own label; each round
    * every vertex takes the min label across itself and its neighbors;
    * converged when the label sum stops changing (labels only ever
    * decrease, so the monotone sum is a complete convergence witness —
    * no per-row diff join needed). Each round is ONE shuffle carrying
    * (vertex, label) pairs — never the document payload. Rounds needed =
    * graph diameter; near-dup components are shallow (pairs/triples), so
    * 2–3 rounds in practice. A 100 TB corpus with adversarially long
    * chains would switch to the large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce"), which
    * converges in O(log²n) rounds on the same (vertex, label) shape.
    */
  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    // persist AND materialize the edge list BEFORE symmetrizing: the
    // union's two branches run concurrently in one job, so a merely-lazy
    // persist still computes the full candidate+verify pipeline upstream
    // of `edges` twice (measured 2× the whole query's scan cost)
    val e = edges.persist()
    e.count()
    val sym = e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    // init already folds in the first neighbor-min round: label(v) =
    // min(v, neighbors(v)) — one groupBy over sym instead of a distinct
    // plus a full propagation round
    var labels = sym.groupBy(col("dst"))
      .agg(least(col("dst"), min(col("src"))).as("cluster_id"))
      .withColumnRenamed("dst", "doc_id").persist()
    def labelSum(l: DataFrame): Long =
      Option(l.agg(sum(col("cluster_id"))).first().get(0))
        .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    var prev = Long.MinValue
    var cur = labelSum(labels)
    var rounds = 0
    while (cur != prev && rounds < 30) {
      // labels descends from sym, so qualify the self-joins explicitly
      val prop = labels.alias("l")
        .join(sym.alias("s"), col("l.doc_id") === col("s.src"))
        .select(col("s.dst").as("doc_id"), col("l.cluster_id").as("cluster_id"))
      // eagerly checkpointed because BOTH sides of the pointer-doubling
      // self-join read it: un-materialized, the union+groupBy propagation
      // shuffle would run twice every round. localCheckpoint (not
      // persist) ALSO truncates the lineage, which is load-bearing: each
      // round's plan references the previous round's twice, so without
      // truncation the logical plan — and its join-size statistics,
      // whose digit count doubles per round — grows exponentially with
      // the round count (measured: the 40-vertex-chain spec hung for
      // minutes inside plan-string rendering). Blocks are reclaimed by
      // the ContextCleaner once unreferenced.
      val stepped = labels.unionByName(prop)
        .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint()
      // pointer doubling: label(v) ← label(label(v)). A label is always
      // itself a vertex id, so the lookup join is total; combined with
      // the neighbor step this halves every label path per round —
      // O(log diameter) rounds instead of O(diameter), which is the
      // difference between 4 and 20+ shuffle rounds on chain-shaped
      // near-dup components (doc i ≈ doc i+1 ≈ …)
      val next = stepped.alias("a")
        .join(stepped.alias("b"), col("a.cluster_id") === col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.cluster_id").as("cluster_id"))
        .persist()
      prev = cur
      cur = labelSum(next)
      labels.unpersist()
      labels = next
      rounds += 1
    }
    require(cur == prev, s"label propagation did not converge in $rounds rounds")
    // the label table is small (only vertices of the near-dup graph);
    // localCheckpoint materializes it so every cache built during the
    // loop can be released NOW — a bare persist returned to the caller
    // would strand its blocks in the CacheManager for the session's
    // lifetime (one leak per invocation), while checkpoint blocks are
    // reclaimed by the ContextCleaner once the result is consumed
    val out = labels.localCheckpoint()
    labels.unpersist()
    sym.unpersist()
    e.unpersist()
    out
  }

  /** Cluster resolution — the step that turns pairwise near-dup matches
    * into keep/drop decisions. Verified pairs (LSH candidates passing
    * exact Jaccard ≥ 0.5) form an undirected graph; each document maps
    * to the smallest doc_id in its connected component (its cluster
    * representative), and `is_canonical` marks the one row per cluster a
    * dedup pass would keep. Documents in no pair are their own
    * singleton cluster. The oracle computes the same components with a
    * recursive transitive-closure CTE.
    *
    * Exact duplicates are collapsed to one representative (min doc_id
    * per identical shingle-hash set) BEFORE banding: an adversarial hot
    * band — say 10k byte-identical documents — would otherwise put all
    * of them in every band bucket and generate O(k²) candidate pairs
    * where the CLUSTER output only needs O(k) rows. The collapse is
    * output-invariant: hv-identical documents have Jaccard exactly 1 in
    * both engines, so they are always edges of the same component, and
    * each group's representative IS its min doc_id — the component
    * minimum over representatives equals the minimum over all members.
    * The oracle keeps the uncollapsed form (its closure connects the
    * group members directly); SkewSpec pins the equivalence on a hot
    * corpus.
    */
  val dedupClusters: QueryDef = QueryDef(
    "dedup_clusters",
    s"""WITH RECURSIVE $lshCandSql,
       |$jaccardSql,
       |edges AS (SELECT doc_a, doc_b FROM j
       |          WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM edges
       |        UNION ALL
       |        SELECT doc_b AS src, doc_a AS dst FROM edges),
       |clos AS (SELECT src AS v, src AS r FROM sym
       |         UNION
       |         SELECT s.dst AS v, c.r AS r FROM clos c JOIN sym s ON s.src = c.v),
       |comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM clos GROUP BY v)
       |SELECT d.doc_id,
       |       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |       coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
       |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id""".stripMargin) { t =>
    clusterDocs(t.documents)
  }

  /** The cluster pipeline body, on any (doc_id, text) corpus — shared by
    * the registered query and DedupSkewSpec's hot corpus.
    */
  private[functions] def clusterDocs(documents: DataFrame): DataFrame = {
    // exact-dup collapse (see class doc): rep = min doc_id over the hash
    // SET itself — array equality, no second-level hashing that could
    // diverge from the oracle's closure. ONE window pass assigns every
    // doc its rep (a groupBy-reps-then-join-back shape would shuffle the
    // hv arrays twice); the checkpoint materializes it once for the rep
    // filter, the rep→cluster expansion, and the verify branches.
    import org.apache.spark.sql.expressions.Window
    val withRep = hashedShingles(documents)
      .withColumn("rep_id", min(col("doc_id")).over(Window.partitionBy(col("hv"))))
      .localCheckpoint()
    val reps = withRep.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("hv"))
    val docRep = withRep.select(col("doc_id"), col("rep_id"))
    val edges = verifiedPairsHv(reps.localCheckpoint())
      .select(col("doc_a"), col("doc_b"))
    val comp = connectedComponents(edges)
    val assigned = docRep
      .join(comp.withColumnRenamed("doc_id", "rep_id"), Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"))
    documents.select(col("doc_id")).join(assigned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id")).as("is_canonical"))
  }

  /** Embedding-cosine near-dup pairs: candidates come from a hyperplane-
    * LSH bucket self-join over the `embeddings` table (same planes as
    * [[AnnOps]]), then exact cosine ≥ τ verifies each candidate. The
    * join is hash-partitioned on the bucket key, never all-pairs; at
    * 100 TB the plane count grows with log N so per-bucket occupancy —
    * and with it the within-bucket pair count — stays bounded. τ = 0.4
    * suits the synthetic near-orthogonal vectors (max pairwise cosine
    * ≈ 0.48); real embedded text uses 0.9+.
    */
  val dedupEmbeddingCosine: QueryDef = QueryDef(
    "dedup_embedding_cosine",
    s"""WITH e AS (SELECT vec_id, embedding, nrm, ${AnnOps.sqlBucket("embedding")} AS bucket
       |           FROM (${AnnOps.sqlNorms})),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |             ${AnnOps.sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
       |      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, round(sim, 6) AS cos_sim
       |FROM p WHERE sim >= 0.4""".stripMargin) { t =>
    val e = t.embeddings
      .withColumn("nrm", sqrt(AnnOps.dot(col("embedding"), col("embedding"))))
      .withColumn("bucket", AnnOps.bucketCol(col("embedding")))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"), col("bucket"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", AnnOps.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") >= 0.4)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("cos_sim"))
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then keep ONE representative per
    * ε-ball — a vector is dropped when a lower-id vector in the SAME
    * cluster sits within cosine ≥ τ. Clustering reuses the IVF codebook
    * ([[AnnOps.centroids]] — deterministic hash-picked centroids so the
    * oracle can reconstruct them; a real deployment k-means), and cell
    * assignment is the same scan-local native fold as the IVF scan.
    *
    * Scale shape: assignment is a pure map over a broadcast codebook;
    * the only shuffle keys on the cell id; the within-cell pair join is
    * bounded by cell occupancy, which the codebook size controls — at
    * 100 TB, k grows as corpus/target-cell-size (SemDeDup used 50k
    * clusters for LAION-2B), so per-cell pairs stay constant while this
    * test-scale instance pins k = [[AnnOps.NCentroids]] for the oracle.
    * τ = 0.4 suits the synthetic near-orthogonal vectors (max pairwise
    * cosine ≈ 0.48); real embedded text uses 0.9+.
    */
  val dedupSemantic: QueryDef = QueryDef(
    "dedup_semantic",
    s"""WITH e AS (${AnnOps.sqlNorms}),
       |cent AS (SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm
       |         FROM e ORDER BY ${h64Sql("vec_id::VARCHAR")}, vec_id LIMIT ${AnnOps.NCentroids}),
       |scored AS (SELECT e.vec_id, cent.cid,
       |                  row_number() OVER (PARTITION BY e.vec_id
       |                                     ORDER BY ${AnnOps.sqlDot("e.embedding", "cent.c_emb")}
       |                                           / (e.nrm * cent.c_nrm) DESC, cent.cid) AS crn
       |           FROM e, cent),
       |assign AS (SELECT vec_id, cid AS cell FROM scored WHERE crn = 1),
       |p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |             ${AnnOps.sqlDot("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS sim
       |      FROM assign a
       |      JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |      JOIN e ea ON ea.vec_id = a.vec_id
       |      JOIN e eb ON eb.vec_id = b.vec_id),
       |d AS (SELECT vb AS vec_id, min(va) AS dup_of FROM p WHERE sim >= 0.4 GROUP BY vb)
       |SELECT assign.vec_id, assign.cell, d.vec_id IS NULL AS is_kept, d.dup_of
       |FROM assign LEFT JOIN d ON d.vec_id = assign.vec_id""".stripMargin) { t =>
    semanticDedup(t.embeddings)
  }

  /** SemDeDup core over any (vec_id, embedding) frame, with the oracle
    * row's k = [[AnnOps.NCentroids]] cells and τ = 0.4.
    */
  private[graft] def semanticDedup(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .withColumn("nrm", sqrt(AnnOps.dot(col("embedding"), col("embedding"))))
    val cent = AnnOps.centroids(e, AnnOps.NCentroids)
    val cells = e.crossJoin(broadcast(AnnOps.centroidArr(cent)))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        AnnOps.cellFold.as("cell"))
    val a = cells.select(col("vec_id").as("va"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"), col("cell"))
    val b = cells.select(col("vec_id").as("vb"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"), col("cell"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("va") < col("vb"))
      .withColumn("sim",
        AnnOps.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") >= 0.4)
      .groupBy(col("vb").as("vec_id")).agg(min(col("va")).as("dup_of"))
    cells.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNull.as("is_kept"), col("dup_of"))
  }

  /** Window length (in words) for exact-substring duplicate detection.
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better") use 50 BPE tokens against web-scale corpora; the synthetic
    * documents are 10-99 words, so 8 keeps the operator exercised at
    * every test SF while the window stays a constructor parameter of
    * [[substringDupSpans]].
    */
  private[graft] val SubstringW = 8

  /** Exact duplicated-substring detection — the span-level complement of
    * document-level dedup: find every W-word window whose content occurs
    * MORE THAN ONCE anywhere in the corpus (other documents or elsewhere
    * in the same one), merge overlapping duplicated windows into maximal
    * spans, and report per document how much of it is duplicated text.
    * A curation pipeline uses the counts two ways: gate documents whose
    * duplicated fraction exceeds a policy bound (the flag here), or cut
    * the spans themselves (Lee et al.'s remove-and-rejoin).
    *
    * Scale shape (the suffix-array of the paper is a single-machine
    * construction; this is the shuffle-native equivalent):
    *  - window hashes are a pure map — `transform` over the split array
    *    computes (pos, h64) pairs BEFORE the explode, so the shuffle
    *    carries (doc_id, pos, hash), never words or arrays;
    *  - the global occurrence count is one hash-shuffle groupBy with
    *    map-side partial counts; a hash repeated a million times still
    *    contributes ONE (h, cnt) row to the dup side, so hot spans skew
    *    the count side by nothing and the join back fans out each
    *    position exactly once — no pair expansion anywhere, unlike a
    *    position×position self-join;
    *  - span merging is gaps-and-islands per document (running max of
    *    window end over a doc-local sort) — partitions by doc_id, so the
    *    heaviest reduce task is the longest single document.
    */
  val dedupSubstringSpans: QueryDef = QueryDef(
    "dedup_substring_spans",
    s"""WITH ww AS (SELECT doc_id, string_split(text, ' ') AS ws,
       |                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
       |            FROM documents),
       |g AS (SELECT doc_id, n_words, unnest(range(1, n_words - ${SubstringW - 2})) AS pos, ws
       |      FROM ww WHERE n_words >= $SubstringW),
       |h AS (SELECT doc_id, pos,
       |             ${h64Sql(s"array_to_string(ws[pos:pos+${SubstringW - 1}], ' ')")} AS h
       |      FROM g),
       |dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
       |d AS (SELECT h.doc_id, h.pos FROM h JOIN dup ON dup.h = h.h),
       |i AS (SELECT doc_id, pos,
       |             max(pos) OVER (PARTITION BY doc_id ORDER BY pos
       |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |      FROM d),
       |f AS (SELECT doc_id, pos,
       |             CASE WHEN prev_max IS NULL OR pos > prev_max + ${SubstringW - 1}
       |                  THEN 1 ELSE 0 END AS new_island
       |      FROM i),
       |s AS (SELECT doc_id, pos,
       |             sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
       |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |      FROM f),
       |sp AS (SELECT doc_id, island,
       |              max(pos) - min(pos) + $SubstringW AS span_words,
       |              count(*) AS n_windows
       |       FROM s GROUP BY doc_id, island),
       |pd AS (SELECT doc_id,
       |              CAST(count(*) AS BIGINT) AS n_dup_spans,
       |              CAST(sum(n_windows) AS BIGINT) AS n_dup_windows,
       |              CAST(sum(span_words) AS BIGINT) AS dup_words
       |       FROM sp GROUP BY doc_id)
       |SELECT ww.doc_id, ww.n_words,
       |       coalesce(pd.n_dup_spans, 0) AS n_dup_spans,
       |       coalesce(pd.n_dup_windows, 0) AS n_dup_windows,
       |       coalesce(pd.dup_words, 0) AS dup_words,
       |       coalesce(pd.dup_words, 0) * 5 > ww.n_words AS is_substring_dup
       |FROM ww LEFT JOIN pd ON pd.doc_id = ww.doc_id""".stripMargin) { t =>
    substringDupSpans(t.documents, SubstringW)
  }

  /** W-word window hashes with positions — shared by the span REPORT
    * ([[substringDupSpans]]) and the span CUT ([[substringDupCut]]) so
    * the cut provably removes exactly the spans the report flags. The
    * (pos, h64) pairs are computed by `transform` BEFORE the explode:
    * shuffles downstream carry (doc_id, pos, hash), never words/arrays.
    * (Deliberately does NOT forward n_words — every consumer rejoins it
    * from the doc side at the end; threading it through the shuffles
    * would be dead weight readers then have to trace.)
    */
  private[graft] def windowHashes(ww: DataFrame, w: Int): DataFrame =
    ww.filter(col("n_words") >= w)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - (w - 1)),
          i => struct(i.cast("long").as("pos"),
            h64(array_join(slice(col("ws"), i, lit(w)), " ")).as("h")))).as("ph"))
      .select(col("doc_id"), col("ph.pos").as("pos"), col("ph.h").as("h"))

  /** (doc_id, pos) packed into one orderable long for the keep-first
    * rule — with a LOUD guard: a position at or beyond 2^[[PosBits]]
    * would bleed into the doc_id field and silently corrupt the
    * corpus-wide-first ordering (cutting the wrong document's text), so
    * it raises instead. 2^20 bounds a document at ~1M words; a
    * deployment with longer documents widens [[PosBits]].
    */
  private[graft] def packedPos: Column =
    when(col("pos") < (1L << PosBits),
      col("doc_id") * (1L << PosBits) + col("pos"))
      .otherwise(raise_error(format_string(
        s"doc %d has window position %d >= 2^$PosBits — widen DedupOps.PosBits",
        col("doc_id"), col("pos"))).cast("long"))

  private[graft] def splitDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("n_words"))

  /** Parameterized core of [[dedupSubstringSpans]] — the window length is
    * the only knob; specs drive it with synthetic overlap shapes.
    */
  private[graft] def substringDupSpans(docs: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ww = splitDocs(docs)
    val h = windowHashes(ww, w)
    val dup = h.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val d = h.join(dup, Seq("h")).select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = d
      .withColumn("prev_max",
        max(col("pos")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max").isNull || col("pos") > col("prev_max") + (w - 1), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = islands
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + w).as("span_words"),
        count(lit(1)).as("n_windows"))
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("n_windows")).as("n_dup_windows"),
        sum(col("span_words")).as("dup_words"))
    ww.select(col("doc_id"), col("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        (coalesce(col("dup_words"), lit(0L)) * 5 > col("n_words"))
          .as("is_substring_dup"))
  }

  /** Position packing for the keep-first rule in [[substringDupCut]]:
    * a window occurrence (doc_id, pos) is ordered by doc_id*2^20 + pos,
    * so the corpus-wide first occurrence of a hash is one skew-free
    * `min` aggregate (2^20 bounds a document at ~1M words — beyond any
    * training document; a deployment with longer docs widens the shift).
    */
  private[graft] val PosBits = 20

  /** Exact-substring CUT — Lee et al.'s remove-and-rejoin, the operator
    * that actually edits the corpus: every duplicated W-word window
    * keeps its corpus-wide FIRST occurrence (lowest doc_id, then
    * position) and is cut everywhere else; the kept words are re-joined
    * in order and the result fingerprinted. Emits per document the
    * original and surviving word counts and the md5 of the rebuilt text
    * — the downstream pipeline consumes exactly these (the text itself
    * at scale is written, not collected).
    *
    * Scale shape, beyond what [[dedupSubstringSpans]] already bounds:
    *  - keep-first is `min(packed)` per hash — a pure partial-aggregate,
    *    so a hash repeated a million times still resolves its canonical
    *    occurrence with map-side combines, never a per-key sort (the
    *    row_number-over-hash formulation would drag the hot key onto one
    *    task);
    *  - redundant windows fan out into AT MOST W covered positions each
    *    — bounded, no pair expansion;
    *  - reconstruction is doc-local: the anti-join on (doc_id, p) and
    *    the ordered re-join both partition by doc_id.
    */
  val dedupSubstringCut: QueryDef = QueryDef(
    "dedup_substring_cut",
    s"""WITH ww AS (SELECT doc_id, string_split(text, ' ') AS ws,
       |                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
       |            FROM documents),
       |g AS (SELECT doc_id, n_words, unnest(range(1, n_words - ${SubstringW - 2})) AS pos, ws
       |      FROM ww WHERE n_words >= $SubstringW),
       |h AS (SELECT doc_id, pos,
       |             ${h64Sql(s"array_to_string(ws[pos:pos+${SubstringW - 1}], ' ')")} AS h,
       |             doc_id * ${1L << PosBits} + pos AS packed
       |      FROM g),
       |m AS (SELECT h, min(packed) AS keep_packed, count(*) AS cnt
       |      FROM h GROUP BY h),
       |r AS (SELECT h.doc_id, h.pos FROM h JOIN m ON m.h = h.h
       |      WHERE m.cnt >= 2 AND h.packed <> m.keep_packed),
       |cov AS (SELECT DISTINCT doc_id, p FROM
       |        (SELECT doc_id, unnest(range(pos, pos + $SubstringW)) AS p FROM r)),
       |wp AS (SELECT doc_id, n_words, unnest(range(1, n_words + 1)) AS p, ws
       |       FROM ww),
       |kept AS (SELECT wp.doc_id, wp.p, wp.ws[wp.p] AS word
       |         FROM wp LEFT JOIN cov ON cov.doc_id = wp.doc_id AND cov.p = wp.p
       |         WHERE cov.p IS NULL),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words_kept,
       |              md5(string_agg(word, ' ' ORDER BY p)) AS cut_text_hash
       |       FROM kept GROUP BY doc_id)
       |SELECT ww.doc_id, ww.n_words,
       |       coalesce(pd.n_words_kept, 0) AS n_words_kept,
       |       coalesce(pd.cut_text_hash, md5('')) AS cut_text_hash,
       |       coalesce(pd.n_words_kept, 0) < ww.n_words AS is_modified
       |FROM ww LEFT JOIN pd ON pd.doc_id = ww.doc_id""".stripMargin) { t =>
    substringDupCut(t.documents, SubstringW)
  }

  /** Parameterized core of [[dedupSubstringCut]]. */
  private[graft] def substringDupCut(docs: DataFrame, w: Int): DataFrame = {
    val ww = splitDocs(docs)
    val h = windowHashes(ww, w).withColumn("packed", packedPos)
    val m = h.groupBy(col("h"))
      .agg(min(col("packed")).as("keep_packed"), count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val r = h.join(m, Seq("h"))
      .filter(col("packed") =!= col("keep_packed"))
      .select(col("doc_id"), col("pos"))
    substringCutStats(ww, r, w)
  }

  /** Per-document cut statistics given the REDUNDANT window set
    * `(doc_id, pos)` — the tail both [[substringDupCut]] and the
    * streamed gate (graft.streaming.SubstringIngest) share, so the
    * stream provably cuts exactly what the batch operator cuts.
    *
    * Reconstruction never explodes words: the redundant START positions
    * collect into one small per-doc array (one doc-keyed shuffle of
    * longs), and the surviving text is rebuilt by a codegen'd indexed
    * `filter` over the already-split word array — a word survives when
    * no redundant window [p, p+w) covers it. Per-doc cost is
    * n_words × redundant-window-count, both bounded by the document's
    * own length, so the heaviest task is the longest single document —
    * the same doc-local bound every stage here has. (The first form of
    * this tail exploded every corpus word into rows and anti-joined
    * covered positions: measured 2× slower and its shuffle carried
    * words instead of longs.)
    */
  private[graft] def substringCutStats(ww: DataFrame, redundant: DataFrame,
      w: Int): DataFrame = {
    val rl = redundant.groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("rps"))
    val kept = ww.join(rl, Seq("doc_id"), "left")
      .withColumn("kept_ws",
        when(col("rps").isNull, col("ws")).otherwise(
          filter(col("ws"), (_, i) =>
            !exists(col("rps"), p => i + 1 >= p && i + 1 < p + w))))
    kept.select(col("doc_id"), col("n_words"),
      size(col("kept_ws")).cast("long").as("n_words_kept"),
      md5(array_join(col("kept_ws"), " ")).as("cut_text_hash"),
      (size(col("kept_ws")).cast("long") < col("n_words")).as("is_modified"))
  }

  /** CCNet-style PARAGRAPH-level dedup (Wenzek et al. 2020 — public
    * method: hash each paragraph, keep the first occurrence corpus-wide,
    * emit documents with duplicate paragraphs removed). Distinct from
    * both doc-level exact dedup (whole-digest) and Lee-et-al substring
    * cut (suffix-window spans): the unit here is the SEGMENT, and a doc
    * survives with its unique segments stitched back in order. The
    * fixture's texts carry no newlines, so segmentation is fixed
    * 10-word windows — the segmenter is the pluggable part (production
    * splits on newline); the keep-first/rebuild machinery is the
    * operator.
    *
    * Keep-first winner = min (doc_id, seg_idx) packed into one long
    * (unique per segment, so the window min is a unique winner — the
    * substring gate's discipline). Scale shape: one hash-shuffle on the
    * segment hash (the window min; segments cross the wire once, text
    * included ONLY as the per-segment string needed to rebuild), then
    * one doc-keyed aggregation; no pair enumeration anywhere. The
    * rebuild's collect_list is per-doc bounded (a doc's own segments).
    */
  val dedupParagraphs: QueryDef = QueryDef(
    "dedup_paragraphs",
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS arr
       |  FROM documents WHERE length(text) > 0),
       |s AS (
       |  SELECT doc_id, i AS seg_idx,
       |         array_to_string(arr[i * 10 + 1 : i * 10 + 10], ' ') AS seg_text
       |  FROM w, unnest(generate_series(0, (len(arr) - 1) // 10)) AS t(i)),
       |k AS (
       |  SELECT doc_id, seg_idx, seg_text,
       |         doc_id * 1000000 + seg_idx AS packed,
       |         min(doc_id * 1000000 + seg_idx)
       |           OVER (PARTITION BY ${h64Sql("'par|' || seg_text")}) AS keep_packed
       |  FROM s)
       |SELECT doc_id,
       |       count(*) AS n_segs,
       |       CAST(sum(CASE WHEN packed = keep_packed THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       string_agg(CASE WHEN packed = keep_packed THEN seg_text END, ' '
       |                  ORDER BY seg_idx) AS cleaned_text
       |FROM k GROUP BY doc_id""".stripMargin) { t =>
    val byH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val segs = t.documents
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, (size(arr) - 1) div 10), " +
          "i -> struct(i AS seg_idx, array_join(slice(arr, i * 10 + 1, 10), ' ') AS seg_text))"))
          .as("s"))
      .select(col("doc_id"), col("s.seg_idx"), col("s.seg_text"))
      .withColumn("h", h64(concat(lit("par|"), col("seg_text"))))
      .withColumn("packed", col("doc_id") * 1000000L + col("seg_idx"))
      .withColumn("kept", col("packed") === min(col("packed")).over(byH))
    segs
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(when(col("kept"),
          struct(col("seg_idx"), col("seg_text"))))).as("ks"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        when(col("n_kept") > 0,
          array_join(expr("transform(ks, x -> x.seg_text)"), " ")).as("cleaned_text"))
  }

  val all: Seq[QueryDef] =
    Seq(dedupExact, dedupKeepBest, dedupMinhashLsh, dedupSimhash, dedupSimhashPairs,
      dedupNgramJaccard, dedupEmbeddingCosine, dedupSemantic, dedupClusters,
      dedupSubstringSpans, dedupSubstringCut, dedupParagraphs)
}
