package graft.functions

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import SharedHash.{h64, h64Sql}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors).
  *
  * Two operators:
  *  - `ann_brute_topk` — exact cosine top-k: the K query vectors are
  *    broadcast and the candidate side is scanned ONCE (linear in N, the
  *    correct brute-force baseline; never N×N);
  *  - `ann_lsh_topk` — hyperplane-LSH: each vector is mapped to a bucket
  *    by the sign pattern of dot products with fixed random hyperplanes,
  *    and candidates are only the vectors sharing the query's bucket.
  *    The join is on the bucket key — at 100 TB this is a hash-partition
  *    join whose cost is bounded by bucket occupancy, not N² (more planes
  *    + multi-probe shrink buckets as N grows).
  *
  * Everything is Catalyst higher-order functions (`zip_with`/`aggregate`)
  * in double precision with a left-to-right fold, which DuckDB's
  * `list_reduce` reproduces exactly — so cosine values are bit-identical
  * across engines and the oracle can hash-compare them.
  *
  * The hyperplanes are generated by an explicit LCG (not a library RNG)
  * so the constants are transparent and engine-independent; the same
  * literals are embedded in the Spark plan and the DuckDB SQL.
  */
object AnnOps {

  private val Dim      = 64
  private val Planes   = 4  // 16 buckets; at scale: more planes + multi-probe
  private[graft] val TopK     = 5
  private[graft] val NQueries = 5  // query set = vec_id < 5, fixed at every SF
  private[graft] val NCentroids = 16 // IVF codebook size — a CONSTANT, not a fraction of N

  /** Fixed hyperplanes, components in [-1, 1]: explicit LCG (glibc
    * constants), row-major fill, seed 1234567891. [[projPlanes]] extends
    * the SAME stream to [[ProjPlanes]] rows, so its first [[Planes]]
    * rows are exactly these — the LSH bucket bits are the signs of the
    * projection's first components by construction.
    */
  private def planeFill(rows: Int): Array[Array[Double]] = {
    var s = 1234567891L
    Array.fill(rows, Dim) {
      s = (s * 1103515245L + 12345L) % 2147483648L
      ((s % 2001L) - 1000L) / 1000.0
    }
  }

  private[functions] val planes: Array[Array[Double]] = planeFill(Planes)

  private[functions] val ProjPlanes = 16 // JL sketch width: 64 → 16 dims
  private[functions] val projPlanes: Array[Array[Double]] = planeFill(ProjPlanes)

  /** dot(a, b) in double, sequential fold from 0.0 (== DuckDB
    * list_reduce, since 0.0 + x == x in IEEE754): the native codegen'd
    * [[DotProduct]] expression (one primitive loop, stays inside
    * WholeStageCodegen), bit-identical to the built-in higher-order
    * fold that DotProductSpec compares it against.
    */
  private[graft] def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(DotProduct(
      org.apache.spark.sql.GraftSqlBridge.expression(a),
      org.apache.spark.sql.GraftSqlBridge.expression(b)))

  private[functions] def dotLit(v: Column, w: Array[Double]): Column =
    dot(v, array(w.map(lit): _*))

  /** Bucket id: bit p set iff dot(v, plane_p) > 0. */
  private[functions] def bucketCol(v: Column): Column =
    (0 until Planes)
      .map(p => when(dotLit(v, planes(p)) > 0, lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _)

  // ---- DuckDB renderings of the same expressions ----

  private[functions] def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, $Dim), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"

  private[functions] def sqlPlaneList(p: Int): String =
    planes(p).mkString("[", ",", "]") + "::DOUBLE[]"

  private[functions] def sqlBucket(v: String): String =
    (0 until Planes).map { p =>
      s"""(CASE WHEN list_reduce(list_transform(generate_series(1, $Dim),
         |        i -> $v[i]::DOUBLE * (${sqlPlaneList(p)})[i]), (x, y) -> x + y) > 0
         |      THEN ${1 << p} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private[functions] val sqlNorms =
    s"""SELECT vec_id, embedding,
       |       sqrt(list_reduce(list_transform(generate_series(1, $Dim),
       |            i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm
       |FROM embeddings""".stripMargin

  /** The brute-force chain shared by [[annBruteTopk]] and
    * [[annFilteredTopk]]: SQL text given a candidate WHERE clause, and
    * the matching Spark pipeline given a candidate DataFrame — one
    * definition of the norm/tie-break/rounding rules for both.
    */
  private def sqlBruteTopk(candWhere: String): String =
    s"""WITH n AS (SELECT vec_id, embedding, label,
       |                  sqrt(list_reduce(list_transform(generate_series(1, $Dim),
       |                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm
       |           FROM embeddings),
       |e AS (SELECT vec_id, embedding, nrm FROM n WHERE $candWhere),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM n WHERE vec_id < $NQueries),
       |p AS (SELECT q.query_id, e.vec_id,
       |             ${sqlDot("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm) AS sim
       |      FROM e, q WHERE e.vec_id <> q.query_id),
       |r AS (SELECT query_id, vec_id, sim,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY sim DESC, vec_id) AS rnk
       |      FROM p)
       |SELECT query_id, rnk, vec_id, round(sim, 6) AS cos_sim
       |FROM r WHERE rnk <= $TopK""".stripMargin

  private def bruteTopk(t: graft.Tables, cand: DataFrame): DataFrame = {
    val e = cand.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
    val q = t.embeddings.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        sqrt(dot(col("embedding"), col("embedding"))).as("q_nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 6).as("cos_sim"))
  }

  /** Exact cosine top-k for the fixed query set. */
  val annBruteTopk: QueryDef = QueryDef(
    "ann_brute_topk", sqlBruteTopk("TRUE")) { t =>
    bruteTopk(t, t.embeddings.select(col("vec_id"), col("embedding")))
  }

  /** Hyperplane-LSH top-k: candidates restricted to the query's bucket. */
  val annLshTopk: QueryDef = QueryDef(
    "ann_lsh_topk",
    s"""WITH e AS (SELECT vec_id, embedding, nrm, ${sqlBucket("embedding")} AS bucket
       |           FROM ($sqlNorms)),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, bucket
       |      FROM e WHERE vec_id < $NQueries),
       |p AS (SELECT q.query_id, e.vec_id,
       |             ${sqlDot("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm) AS sim
       |      FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
       |r AS (SELECT query_id, vec_id, sim,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY sim DESC, vec_id) AS rnk
       |      FROM p)
       |SELECT query_id, rnk, vec_id, round(sim, 6) AS cos_sim
       |FROM r WHERE rnk <= $TopK""".stripMargin) { t =>
    val e = t.embeddings
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .withColumn("bucket", bucketCol(col("embedding")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket"))
    val cand = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cand
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 6).as("cos_sim"))
  }

  /** Multi-probe hyperplane-LSH top-k: besides the query's own bucket,
    * probe every bucket at Hamming distance 1 (one sign bit flipped —
    * the neighbor a borderline dot product would have landed in). Probes
    * per query = Planes + 1, so candidate cost grows linearly in the
    * plane count while recall approaches brute force — the standard
    * trade that lets a 100 TB deployment RAISE the plane count (smaller
    * buckets) without the recall cliff single-probe LSH has. Buckets
    * partition the vectors and the probe set is distinct, so no
    * candidate dedup is needed before ranking.
    */
  val annLshMultiprobe: QueryDef = QueryDef(
    "ann_lsh_multiprobe",
    s"""WITH e AS (SELECT vec_id, embedding, nrm, ${sqlBucket("embedding")} AS bucket
       |           FROM ($sqlNorms)),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, bucket
       |      FROM e WHERE vec_id < $NQueries),
       |probes AS (SELECT query_id, q_emb, q_nrm,
       |                  unnest([bucket${(0 until Planes).map(p => s", xor(bucket, ${1 << p})").mkString}]) AS probe
       |           FROM q),
       |p AS (SELECT probes.query_id, e.vec_id,
       |             ${sqlDot("probes.q_emb", "e.embedding")} / (probes.q_nrm * e.nrm) AS sim
       |      FROM e JOIN probes ON e.bucket = probes.probe AND e.vec_id <> probes.query_id),
       |r AS (SELECT query_id, vec_id, sim,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY sim DESC, vec_id) AS rnk
       |      FROM p)
       |SELECT query_id, rnk, vec_id, round(sim, 6) AS cos_sim
       |FROM r WHERE rnk <= $TopK""".stripMargin) { t =>
    val e = t.embeddings
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .withColumn("bucket", bucketCol(col("embedding")))
    val probes = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(array(col("bucket") +:
          (0 until Planes).map(p => col("bucket").bitwiseXOR(lit(1 << p))): _*))
          .as("bucket"))
    val cand = e.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cand
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 6).as("cos_sim"))
  }

  /** Fixed-count deterministic IVF codebook: the [[NCentroids]] vectors
    * with the smallest h64(vec_id) (a uniform hash order, so the pick is
    * an unbiased pseudo-random sample the oracle can rebuild; a real
    * deployment k-means the same fixed count). C is a CONSTANT
    * independent of N — the selection is a top-k by hash
    * (TakeOrderedAndProject: per-partition heap then one k-row merge,
    * no full sort, no shuffle of the data), so at 100× the corpus the
    * codebook, its broadcast, and the per-vector assignment cost are all
    * unchanged; only the linear scan grows.
    */
  private[functions] def centroids(e: DataFrame): DataFrame = centroids(e, NCentroids)

  /** Variable-count codebook — the oracle queries pin [[NCentroids]];
    * [[kmeansTrain]] seeds a codebook of any requested size from it.
    */
  private[graft] def centroids(e: DataFrame, n: Int): DataFrame =
    e.orderBy(h64(col("vec_id").cast("string")), col("vec_id"))
      .limit(n)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))

  /** The centroid codebook as ONE broadcastable row (cid-ordered). */
  private[graft] def centroidArr(cent: DataFrame): DataFrame =
    cent.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("c_emb"), col("c_nrm"))))
        .as("cents"))

  /** Cell assignment over a `cents` column (plus `embedding`/`nrm` from
    * the row): best cosine by strict >, cid order — the lowest cid wins
    * ties, matching the oracle's ORDER BY csim DESC, cid. The native
    * codegen'd [[NearestCell]] kernel; NearestCellSpec pins it
    * bit-identical to the aggregate fold.
    */
  private[graft] def cellFold: Column =
    org.apache.spark.sql.GraftSqlBridge.column(NearestCell(
      org.apache.spark.sql.GraftSqlBridge.expression(col("embedding")),
      org.apache.spark.sql.GraftSqlBridge.expression(col("cents"))))

  /** Cell assignment as a PURE MAP: each row folds over the broadcast
    * centroid row. The previous form materialized N×C scored rows and
    * argmax'd them with a row_number window — a sort shuffle that grew
    * with the corpus while the real work (N·C dots) is scan-local.
    */
  private def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroidArr(cent)))
      .select(col("vec_id"), cellFold.as("cell"))

  /** nprobe=2 probe cells for the (tiny, broadcastable) query set —
    * the window is over NQueries×C rows, not the corpus.
    */
  private def probeCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.filter(col("vec_id") < NQueries).crossJoin(broadcast(cent))
      .withColumn("csim",
        dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("crn") <= 2)
      .select(col("vec_id").as("query_id"), col("cid").as("cell"))

  /** IVF top-k: coarse quantization — every vector is assigned to its
    * nearest CENTROID cell (the fixed-count codebook of [[centroids]]),
    * and a query probes only its `nprobe`=2 nearest cells. Assignment is
    * a linear pass (N × C with C a true constant, codebook broadcast);
    * the candidate join is keyed on the cell id. At 100 TB this is the
    * standard partition-pruned ANN layout: cells shard across executors
    * and a query touches nprobe of them.
    */
  val annIvfTopk: QueryDef = QueryDef(
    "ann_ivf_topk",
    s"""WITH e AS ($sqlNorms),
       |cent AS (SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm
       |         FROM e ORDER BY ${h64Sql("vec_id::VARCHAR")}, vec_id LIMIT $NCentroids),
       |scored AS (SELECT e.vec_id, cent.cid,
       |                  ${sqlDot("e.embedding", "cent.c_emb")} / (e.nrm * cent.c_nrm) AS csim,
       |                  row_number() OVER (PARTITION BY e.vec_id
       |                                     ORDER BY ${sqlDot("e.embedding", "cent.c_emb")}
       |                                           / (e.nrm * cent.c_nrm) DESC, cent.cid) AS crn
       |           FROM e, cent),
       |assign AS (SELECT vec_id, cid AS cell FROM scored WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, cid AS cell
       |           FROM scored WHERE vec_id < $NQueries AND crn <= 2),
       |p AS (SELECT probes.query_id, assign.vec_id,
       |             ${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS sim
       |      FROM probes
       |      JOIN assign ON assign.cell = probes.cell
       |                 AND assign.vec_id <> probes.query_id
       |      JOIN e q ON q.vec_id = probes.query_id
       |      JOIN e ON e.vec_id = assign.vec_id),
       |r AS (SELECT query_id, vec_id, sim,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY sim DESC, vec_id) AS rnk
       |      FROM p)
       |SELECT query_id, rnk, vec_id, round(sim, 6) AS cos_sim
       |FROM r WHERE rnk <= $TopK""".stripMargin) { t =>
    val e = t.embeddings
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
    ivfSearch(e, centroids(e))
  }

  /** The IVF search body over an arbitrary codebook (seed or trained):
    * assignment + nprobe=2 probes + cell-keyed candidate join + rank.
    */
  private def ivfSearch(e: DataFrame, cent: DataFrame): DataFrame = {
    val assign = assignCells(e, cent)
    val probes = probeCells(e, cent)
    val qSide = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val cand = probes
      .join(assign, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qSide), Seq("query_id"))
      .join(e, Seq("vec_id"))
      .withColumn("sim",
        dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cand
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 6).as("cos_sim"))
  }

  // parameter sweep at sf0.001 (recall@5 vs exact cosine): M=8/K=16 →
  // 0.00 (distortion ≈ random on these weak-signal vectors), M=32/K=128
  // → 0.80, M=16/K=64 → 0.56 (per-subspace picks) / 0.48 (fixed-count
  // donor picks — kept: the per-subspace window ranked all N rows in M
  // single-reducer partitions, a grows-with-N shape) at 16 bytes/vector
  // — on par with multiprobe LSH at 16× memory compression
  private[functions] val PqM   = 16 // subspaces
  private[functions] val PqSub = Dim / PqM // dims per subspace
  private val PqK   = 64 // codes per subspace → 16×64 codebook, 16 bytes/vector

  /** Product quantization + asymmetric distance computation — the
    * standard companion of IVF at 100 TB scale (IVF-PQ): each vector
    * compresses to [[PqM]] one-byte codes (argmin-L2 centroid per
    * subspace), and a query ranks candidates by summing [[PqM]]
    * precomputed query→centroid distances (the LUT) instead of touching
    * raw vectors — a 16× memory cut (64×4 bytes → 16) and a scan that
    * reads codes only. Codebooks are fixed-count deterministic picks
    * (the [[PqK]] subvectors with smallest per-subspace hash — same
    * oracle-reconstructible device as [[centroids]]; a real deployment
    * k-means per subspace). Determinism notes: every L2 is the same
    * left-to-right 8-term fold on both engines, and the ADC sum is an
    * explicit m-ordered fold (grouped SUM over doubles would be
    * summation-order-dependent and hash-flap).
    */
  // ---- shared PQ machinery (used by ann_pq_adc and ann_ivfpq_topk) ----

  /** Sub-space L2² via the dot identity |a|²+|b|²−2a·b — three
    * sequential-fold dots instead of a subtract-square fold, so the
    * Spark side can run the NATIVE [[DotProduct]] in the hot loop.
    * Changing the formula changes low-order float bits, so BOTH engines
    * use this exact operand order (see [[pqL2]]).
    */
  private def sqlSubDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, $PqSub), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"

  private def sqlPqL2(a: String, b: String): String =
    s"(${sqlSubDot(a, a)} + ${sqlSubDot(b, b)} - 2 * ${sqlSubDot(a, b)})"

  /** CTE chain sub/cbr/cb/asg/codes/lut/lutarr — normalized subvectors,
    * deterministic codebooks, per-vector codes, per-query LUT arrays.
    */
  private def pqSqlCtes: String = {
    val pickHash = h64Sql("CAST(vec_id AS VARCHAR) || '-pq'")
    s"""sub AS (
       |  SELECT vec_id, mm.m AS m,
       |         list_transform(
       |           list_slice(embedding, mm.m*$PqSub + 1, mm.m*$PqSub + $PqSub),
       |           x -> x::DOUBLE / nrm) AS svec
       |  FROM ($sqlNorms), (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) mm
       |),
       |cbdon AS (
       |  SELECT vec_id, embedding, nrm,
       |         row_number() OVER (ORDER BY $pickHash, vec_id) AS cid
       |  FROM ($sqlNorms)
       |),
       |cb AS (
       |  SELECT mm.m AS m, cid,
       |         list_transform(
       |           list_slice(embedding, mm.m*$PqSub + 1, mm.m*$PqSub + $PqSub),
       |           x -> x::DOUBLE / nrm) AS cvec
       |  FROM cbdon, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) mm
       |  WHERE cid <= $PqK
       |),
       |asg AS (
       |  SELECT sub.vec_id, sub.m, cb.cid,
       |         row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |                            ORDER BY ${sqlPqL2("sub.svec", "cb.cvec")}, cb.cid) AS rn
       |  FROM sub JOIN cb ON cb.m = sub.m
       |),
       |codes AS (SELECT vec_id, list(cid ORDER BY m) AS codes
       |          FROM asg WHERE rn = 1 GROUP BY vec_id),
       |lut AS (
       |  SELECT sub.vec_id AS query_id, sub.m*$PqK + cb.cid - 1 AS k,
       |         ${sqlPqL2("sub.svec", "cb.cvec")} AS lq
       |  FROM sub JOIN cb ON cb.m = sub.m
       |  WHERE sub.vec_id < $NQueries
       |),
       |lutarr AS (SELECT query_id, list(lq ORDER BY k) AS lut FROM lut GROUP BY query_id)""".stripMargin
  }

  /** ADC fold over (codes, lut) columns — fixed m order, engine-exact. */
  private def sqlAdcFold: String =
    s"""list_reduce(list_transform(generate_series(0, ${PqM - 1}),
       |            m -> lut[m*$PqK + codes[m+1]]), (x, y) -> x + y)""".stripMargin

  /** Sub-space L2² via |a|²+|b|²−2a·b, all three dots the native
    * [[DotProduct]] — bit-identical to [[sqlPqL2]] (same operand order,
    * left-associated combine in both engines).
    */
  private def pqL2(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)

  /** Normalized subvectors (vec_id, m, svec): on unit vectors L2² =
    * 2 − 2·cos, so ADC ranking approximates the suite's cosine metric
    * (unnormalized PQ-L2 against near-orthogonal vectors measured
    * recall ≈ random).
    */
  private def pqSubs(e: DataFrame): DataFrame =
    e.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        col("embedding"), col("nrm"))
      .withColumn("svec",
        transform(slice(col("embedding"), col("m") * PqSub + 1, lit(PqSub)),
          x => x.cast("double") / col("nrm")))
      .drop("embedding", "nrm")

  /** Codebook (m, cid, cvec): the [[PqK]] DONOR VECTORS with the
    * smallest pick hash, sliced into per-subspace centroids. A
    * fixed-count top-k pick (`TakeOrderedAndProject`), NOT a
    * row_number window over the corpus — a per-subspace window would
    * rank all N rows in [[PqM]] single-reducer partitions, the same
    * grows-with-N flaw the IVF codebook had. The `-pq` suffix
    * decorrelates the pick from the IVF centroid hash (without it the
    * IVF centroids would always be codebook donors). On random vectors,
    * subvectors of K random donors are distributionally identical to K
    * independently-picked random subvectors per subspace.
    */
  private[functions] def pqCodebook(e: DataFrame): DataFrame = {
    val pick = h64(concat(col("vec_id").cast("string"), lit("-pq")))
    val donors = e.select(col("vec_id"), col("embedding"))
      .orderBy(pick, col("vec_id")).limit(PqK)
      // K rows total — the unpartitioned window is a trivial sort of 64
      .withColumn("cid", row_number().over(Window.orderBy(pick, col("vec_id"))))
    pqSubs(donors.select(col("vec_id"), col("embedding")))
      .join(donors.select(col("vec_id"), col("cid")), Seq("vec_id"))
      .select(col("m"), col("cid"), col("svec").as("cvec"))
  }

  /** The whole codebook as ONE broadcastable row: `cball[m+1]` is
    * subspace m's candidate list, cid-ordered, each with its
    * precomputed |c|² for the identity-form L2.
    */
  private[functions] def pqCodebookArr(cb: DataFrame): DataFrame =
    cb.withColumn("c2", dot(col("cvec"), col("cvec")))
      .groupBy(col("m"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec"), col("c2"))))
        .as("cands"))
      .groupBy()
      .agg(transform(sort_array(collect_list(struct(col("m"), col("cands")))),
        s => s.getField("cands")).as("cball"))

  /** Per-vector codes (vec_id, codes[PqM]): argmin-L2 centroid per
    * subspace, as a PURE MAP — each row scores its 16 subvectors
    * against the broadcast codebook row (argmin keeps the first =
    * lowest-cid minimum, matching the oracle's ORDER BY d2, cid). No
    * exploded N×M×K intermediate, no argmin shuffle: the earlier
    * join+window form materialized and sort-shuffled 64 scored rows per
    * (vector, subspace), which at corpus scale dwarfed the actual
    * distance arithmetic. The codes come from [[pqCodesCol]].
    */
  private[functions] def pqCodes(e: DataFrame, cbArr: DataFrame): DataFrame =
    e.crossJoin(broadcast(cbArr)).select(col("vec_id"), pqCodesCol.as("codes"))

  /** The codes column over in-scope `embedding` and `cball` columns:
    * the native codegen'd [[PqCodes]] expression (one primitive loop per
    * row), which PqCodesSpec pins bit-identical to the zip_with/aggregate
    * higher-order form. Shared by [[pqCodes]] and the fused IVF-PQ scan,
    * so any change to the codes computation covers both paths.
    */
  private[functions] def pqCodesCol: Column =
    org.apache.spark.sql.GraftSqlBridge.column(PqCodes(
      org.apache.spark.sql.GraftSqlBridge.expression(col("embedding")),
      org.apache.spark.sql.GraftSqlBridge.expression(col("cball"))))

  /** Per-query LUT (query_id, lut[PqM*PqK]): all query-subvector →
    * centroid distances, ordered by m*PqK+cid-1.
    */
  private def pqLutArr(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.filter(col("vec_id") < NQueries)
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id").as("query_id"),
        (col("m") * PqK + col("cid") - 1).as("k"),
        pqL2(col("svec"), col("cvec")).as("lq"))
      .groupBy(col("query_id"))
      .agg(transform(sort_array(collect_list(struct(col("k"), col("lq")))),
        s => s.getField("lq")).as("lut"))

  /** ADC fold: sum of the PqM LUT hits selected by the codes — explicit
    * m-ordered fold (a grouped SUM over doubles would be
    * summation-order-dependent and hash-flap).
    */
  private def adcCol: Column =
    aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
      (acc, m) => acc + element_at(col("lut"),
        (m * PqK).cast("int") + element_at(col("codes"), (m + 1).cast("int"))))

  val annPqAdc: QueryDef = QueryDef(
    "ann_pq_adc",
    s"""WITH $pqSqlCtes,
       |p AS (
       |  SELECT query_id, vec_id, $sqlAdcFold AS adc
       |  FROM (SELECT lutarr.query_id, codes.vec_id, codes.codes AS codes,
       |               lutarr.lut AS lut
       |        FROM codes, lutarr WHERE codes.vec_id <> lutarr.query_id)
       |),
       |r AS (SELECT query_id, vec_id, adc,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY adc, vec_id) AS rnk
       |      FROM p)
       |SELECT query_id, rnk, vec_id, round(adc, 6) AS adc_dist
       |FROM r WHERE rnk <= $TopK""".stripMargin) { t =>
    val cb = pqCodebook(t.embeddings)
    // ADC scan: codes only, LUT broadcast
    val scored = pqCodes(t.embeddings, pqCodebookArr(cb))
      .crossJoin(broadcast(pqLutArr(pqSubs(t.embeddings), cb)))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", adcCol)
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("adc"), 6).as("adc_dist"))
  }

  /** IVF-PQ — the composed 100 TB vector-search layout: the IVF coarse
    * index prunes the candidate set to the query's nprobe=2 cells
    * (touching 2/[[NCentroids]] of the corpus), and PQ codes rank those
    * candidates by ADC without reading a single raw vector. At scale
    * this is the whole point of the pair: the scan is (corpus/C·nprobe)
    * rows × 16 code bytes, with raw vectors needed only for an optional
    * exact re-rank of the final page.
    */
  val annIvfPq: QueryDef = QueryDef(
    "ann_ivfpq_topk",
    s"""WITH e AS ($sqlNorms),
       |cent AS (SELECT vec_id AS ccid, embedding AS c_emb, nrm AS c_nrm
       |         FROM e ORDER BY ${h64Sql("vec_id::VARCHAR")}, vec_id LIMIT $NCentroids),
       |cscored AS (SELECT e.vec_id, cent.ccid,
       |                   row_number() OVER (PARTITION BY e.vec_id
       |                                      ORDER BY ${sqlDot("e.embedding", "cent.c_emb")}
       |                                            / (e.nrm * cent.c_nrm) DESC, cent.ccid) AS crn
       |            FROM e, cent),
       |assign AS (SELECT vec_id, ccid AS cell FROM cscored WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, ccid AS cell
       |           FROM cscored WHERE vec_id < $NQueries AND crn <= 2),
       |$pqSqlCtes,
       |p AS (
       |  SELECT query_id, vec_id, $sqlAdcFold AS adc
       |  FROM (SELECT probes.query_id, assign.vec_id, codes.codes AS codes,
       |               lutarr.lut AS lut
       |        FROM probes
       |        JOIN assign ON assign.cell = probes.cell
       |                   AND assign.vec_id <> probes.query_id
       |        JOIN codes ON codes.vec_id = assign.vec_id
       |        JOIN lutarr ON lutarr.query_id = probes.query_id)
       |),
       |r AS (SELECT query_id, vec_id, adc,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY adc, vec_id) AS rnk
       |      FROM p)
       |SELECT query_id, rnk, vec_id, round(adc, 6) AS adc_dist
       |FROM r WHERE rnk <= $TopK""".stripMargin) { t =>
    val e = t.embeddings
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
    val cent = centroids(e)
    val probes = probeCells(e, cent)
    val cb = pqCodebook(t.embeddings)
    // cell assignment AND code computation are both per-row maps, so
    // they fuse into ONE scan — no vec_id join chain (assign⋈codes⋈lut
    // each shuffled the corpus before); the probe set and LUT broadcast
    val enriched = e
      .crossJoin(broadcast(centroidArr(cent)))
      .crossJoin(broadcast(pqCodebookArr(cb)))
      .select(col("vec_id"), cellFold.as("cell"), pqCodesCol.as("codes"))
    val cand = enriched.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(pqLutArr(pqSubs(t.embeddings), cb)), Seq("query_id"))
      .withColumn("adc", adcCol)
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    cand
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("adc"), 6).as("adc_dist"))
  }

  /** Int8 scalar quantization of the embedding vectors — the
    * memory-reduction step an ANN serving layer applies before building
    * its index (4× smaller than float32). Per vector: `scale =
    * 127/max|x_i|`, `q_i = max(−127, floor(x_i·scale))` ∈ [−127, 127] —
    * the clamp matters: float rounding of `scale` can push the most
    * negative component one below −127, outside int8's symmetric range.
    * Everything
    * exported is integer-exact (floor, counts, sums of small ints;
    * the scale as floored parts-per-million), so the oracle matches
    * bit-for-bit with no rounding caveats. A pure map — no shuffle; the
    * d² fused re-evaluation of the max inside the lambdas is d=64
    * arithmetic per row, still cheaper than materializing an
    * intermediate column at corpus scale.
    */
  val embQuantize: QueryDef = QueryDef(
    "emb_quantize",
    """WITH q AS (SELECT vec_id, embedding,
      |             127.0 / list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS scale
      |           FROM embeddings
      |           WHERE list_max(list_transform(embedding, x -> abs(x::DOUBLE))) > 0)
      |SELECT vec_id,
      |       CAST(floor(scale * 1000000) AS BIGINT) AS scale_ppm,
      |       CAST(list_sum(list_transform(embedding,
      |              x -> abs(greatest(-127, floor(x::DOUBLE * scale))))) AS BIGINT) AS q_l1,
      |       CAST(list_min(list_transform(embedding,
      |              x -> greatest(-127, floor(x::DOUBLE * scale)))) AS BIGINT) AS q_min,
      |       CAST(list_max(list_transform(embedding,
      |              x -> greatest(-127, floor(x::DOUBLE * scale)))) AS BIGINT) AS q_max,
      |       CAST(len(list_filter(embedding,
      |              x -> greatest(-127, floor(x::DOUBLE * scale)) > 0)) AS BIGINT) AS n_pos
      |FROM q""".stripMargin) { t =>
    val absMax = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    // Bind the per-row scale ONCE as a lambda variable: higher-order
    // lambdas evaluate interpreted (no codegen subexpression sharing),
    // so referencing `scale` inside an element lambda re-computed the
    // d-element absMax per ELEMENT — d² work per row. A lambda variable
    // is evaluated exactly once per (single-element) array, and the
    // optimizer cannot re-inline it. Identical arithmetic either way:
    // scale is deterministic, so every evaluation yields the same
    // double. One wrapper per OUTPUT column (not one shared struct):
    // field extraction would re-evaluate a shared struct per field.
    def withScale(body: Column => Column): Column =
      element_at(transform(array(lit(127.0) / absMax), s => body(s)), 1)
    def qv(x: Column, s: Column): Column =
      greatest(lit(-127L), floor(x.cast("double") * s))
    t.embeddings
      .filter(absMax > 0)
      .select(col("vec_id"),
        withScale(s => floor(s * 1000000).cast("long")).as("scale_ppm"),
        withScale(s => aggregate(transform(col("embedding"), x => abs(qv(x, s))),
          lit(0L), (acc, v) => acc + v)).as("q_l1"),
        withScale(s => array_min(transform(col("embedding"), x => qv(x, s)))).as("q_min"),
        withScale(s => array_max(transform(col("embedding"), x => qv(x, s)))).as("q_max"),
        withScale(s => size(filter(col("embedding"), x => qv(x, s) > 0)).cast("long"))
          .as("n_pos"))
  }

  /** Top-k search IN THE INT8 DOMAIN — the memory-bound production form
    * ([[embQuantize]]'s stats become an actual index): every vector is
    * quantized to 64 int8 components (pure map), and candidates are
    * ranked by the cosine of the QUANTIZED vectors — integer dot and
    * integer squared norms, so the per-vector scale factor cancels and
    * never re-enters the scan. All pairwise arithmetic is exact 64-bit
    * integer (|dot| ≤ 64·127² < 2³⁰); only the final
    * dot/sqrt(n_a)/sqrt(n_b) is floating point, with identical operand
    * order in both engines. At 100 TB this is the 4× scan-throughput
    * trade (16 B/vec··· vs 256 B raw float32): the scan reads int8
    * codes, SIMD-friendly integer MACs, and recall loss is bounded by
    * quantization noise (AnnInt8Spec measures it against the float
    * brute force).
    */
  val annInt8Topk: QueryDef = QueryDef(
    "ann_int8_topk",
    s"""WITH q8 AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(greatest(-127, floor(x::DOUBLE *
       |                  (127.0 / list_max(list_transform(embedding, y -> abs(y::DOUBLE)))))) AS BIGINT)) AS qv
       |  FROM embeddings
       |  WHERE list_max(list_transform(embedding, y -> abs(y::DOUBLE))) > 0),
       |n AS (SELECT vec_id, qv,
       |             list_reduce(list_transform(generate_series(1, $Dim),
       |               i -> qv[i] * qv[i]), (x, y) -> x + y) AS nn
       |      FROM q8),
       |qs AS (SELECT vec_id AS query_id, qv AS q_qv, nn AS q_nn
       |       FROM n WHERE vec_id < $NQueries),
       |p AS (SELECT qs.query_id, n.vec_id,
       |             list_reduce(list_transform(generate_series(1, $Dim),
       |               i -> q_qv[i] * qv[i]), (x, y) -> x + y) AS dq,
       |             q_nn, nn
       |      FROM n, qs WHERE n.vec_id <> qs.query_id),
       |r AS (SELECT query_id, vec_id,
       |             CAST(dq AS DOUBLE) / (sqrt(CAST(q_nn AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE))) AS sim,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY CAST(dq AS DOUBLE) / (sqrt(CAST(q_nn AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE))) DESC,
       |                                         vec_id) AS rnk
       |      FROM p)
       |SELECT query_id, rnk, vec_id, round(sim, 6) AS cos_sim
       |FROM r WHERE rnk <= $TopK""".stripMargin) { t =>
    val absMax = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    // scale bound once per row via a lambda variable — see embQuantize:
    // the nested form re-computed the d-element absMax per element
    val qv = element_at(transform(array(lit(127.0) / absMax), s =>
      transform(col("embedding"),
        x => greatest(lit(-127L), floor(x.cast("double") * s)))), 1)
    // native kernel on the hot path (integer addition is order-free, so
    // it matches the oracle's fold exactly)
    val intDot = (a: Column, b: Column) =>
      org.apache.spark.sql.GraftSqlBridge.column(IntDotProduct(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))
    val n = t.embeddings
      .filter(absMax > 0)
      .select(col("vec_id"), qv.as("qv"))
      .withColumn("nn", intDot(col("qv"), col("qv")))
    val qs = n.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nn").as("q_nn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    n.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dq", intDot(col("q_qv"), col("qv")))
      .withColumn("sim", col("dq").cast("double") /
        (sqrt(col("q_nn").cast("double")) * sqrt(col("nn").cast("double"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 6).as("cos_sim"))
  }

  /** One k-means (Lloyd) refinement step over the IVF codebook — the
    * hash-picked seed codebook ([[centroids]]) is what a deployment
    * would START from; this op is the iteration that turns it into a
    * trained one (run it until the shift is below tolerance, re-running
    * the same pass each time). Shape per iteration: assignment is the
    * identical broadcast scan the IVF queries use (N×C dots, no
    * shuffle), and the centroid update is a map-side-combining hash
    * aggregate over the posexploded components — each task collapses
    * its rows to at most C×d partial sums before the shuffle, so the
    * exchanged state is KB-sized and independent of N. At 100 TB a
    * Lloyd loop is exactly this query re-run: one linear pass per
    * iteration, C×d longs of state rebroadcast.
    *
    * Cross-engine exactness: components quantize to micro-units with
    * floor (identical in both engines, sign included), partial sums are
    * exact int64, and the mean is truncating integer division — Spark's
    * `div` and DuckDB's `//` both truncate toward zero, so every cell
    * mean is bit-identical. No float summation order anywhere.
    */
  val kmeansRefine: QueryDef = QueryDef(
    "kmeans_refine",
    s"""WITH e0 AS ($sqlNorms),
       |e AS (SELECT * FROM e0 WHERE nrm > 0),
       |cent AS (SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm
       |         FROM e ORDER BY ${h64Sql("vec_id::VARCHAR")}, vec_id LIMIT $NCentroids),
       |scored AS (SELECT e.vec_id, e.embedding, cent.cid,
       |                  row_number() OVER (PARTITION BY e.vec_id
       |                     ORDER BY ${sqlDot("e.embedding", "cent.c_emb")}
       |                           / (e.nrm * cent.c_nrm) DESC, cent.cid) AS crn
       |           FROM e, cent),
       |assign AS (SELECT vec_id, embedding, cid AS cell FROM scored WHERE crn = 1),
       |comps AS (SELECT cell, g.i - 1 AS pos,
       |                 CAST(floor(embedding[g.i]::DOUBLE * 1000000) AS BIGINT) AS q
       |          FROM assign, generate_series(1, $Dim) g(i)),
       |upd AS (SELECT cell, pos, count(*) AS n, CAST(sum(q) AS BIGINT) AS s
       |        FROM comps GROUP BY cell, pos),
       |old AS (SELECT cid AS cell, g.i - 1 AS pos,
       |               CAST(floor(c_emb[g.i]::DOUBLE * 1000000) AS BIGINT) AS c_old_micro
       |        FROM cent, generate_series(1, $Dim) g(i))
       |SELECT upd.cell, upd.pos, upd.n, old.c_old_micro,
       |       s // n AS c_new_micro
       |FROM upd JOIN old USING (cell, pos)""".stripMargin) { t =>
    // zero-norm vectors are excluded EXPLICITLY in both engines: Spark's
    // NearestCell returns NULL for them while DuckDB's NaN cosine sorts
    // first — without the filter the two engines would assign them
    // differently (CONFIRMED divergence, just absent from the testdata)
    val e = t.embeddings
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    val cent = centroids(e)
    val assigned = e.crossJoin(broadcast(centroidArr(cent)))
      .select(col("embedding"), cellFold.as("cell"))
    val upd = assigned
      .select(col("cell"), posexplode(col("embedding")))
      .select(col("cell"), col("pos").cast("long").as("pos"),
        floor(col("col").cast("double") * 1000000).cast("long").as("q"))
      .groupBy(col("cell"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
    val old = cent
      .select(col("cid").as("cell"), posexplode(col("c_emb")))
      .select(col("cell"), col("pos").cast("long").as("pos"),
        floor(col("col").cast("double") * 1000000).cast("long").as("c_old_micro"))
    upd.join(broadcast(old), Seq("cell", "pos"))
      .select(col("cell"), col("pos"), col("n"), col("c_old_micro"),
        expr("s div n").as("c_new_micro"))
  }

  /** Iterated Lloyd training: `iters` [[kmeansRefine]] passes over the
    * corpus, returning a trained codebook `(cid, c_emb, c_nrm)` ready
    * for the IVF/SemDeDup cell machinery (NearestCell takes double
    * centroid arrays natively). Per pass: one broadcast-scan assignment
    * plus one map-side-combining component aggregate, then the C×d
    * means (a few KB, independent of N) collect to the driver and
    * re-broadcast — the standard distributed-k-means loop shape, one
    * linear scan per iteration at any corpus size. Means stay in the
    * micro-unit integer domain, so a trained codebook is reproducible
    * bit-for-bit across runs, partitionings, and retries. A cell that
    * loses all members keeps its previous centroid (the deterministic
    * analogue of re-seeding).
    */
  private[graft] def kmeansTrain(e0: DataFrame, n: Int, iters: Int): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    // zero-norm vectors excluded up front (same reason as kmeansRefine:
    // their cosine to every centroid is undefined)
    val e = e0.filter(col("nrm") > 0)
    def centDf(cs: Seq[(Long, Array[Double])]): DataFrame =
      cs.sortBy(_._1).toDF("cid", "c_emb")
        .withColumn("c_nrm", sqrt(dot(col("c_emb"), col("c_emb"))))
    // the seed collects ONCE; thereafter centroids live driver-side
    // (C×d doubles) and each iteration only rebuilds the tiny broadcast
    // frame — no per-iteration collect of the previous codebook
    var cents: Seq[(Long, Array[Double])] = centroids(e, n).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    for (_ <- 1 to iters) {
      val assigned = e.crossJoin(broadcast(centroidArr(centDf(cents))))
        .select(col("embedding"), cellFold.as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")))
        .select(col("cell"), col("pos"),
          floor(col("col").cast("double") * 1000000).cast("long").as("q"))
        .groupBy(col("cell"), col("pos"))
        .agg(count(lit(1)).as("cnt"), sum(col("q")).as("s"))
        .select(col("cell"), col("pos"), expr("s div cnt").as("m"))
        .collect()
      val byCell = means.groupBy(_.getLong(0)).map { case (c, rs) =>
        val arr = new Array[Double](Dim)
        rs.foreach(r => arr(r.getInt(1)) = r.getLong(2) / 1e6)
        c -> arr
      }
      cents = cents.map { case (cid, old) => (cid, byCell.getOrElse(cid, old)) }
    }
    centDf(cents)
  }

  /** IVF top-k through a TRAINED codebook — the end-to-end check that
    * training ([[kmeansTrain]], 1 iteration here) composes with search:
    * the oracle replays the whole chain in SQL — seed pick, Lloyd
    * assignment, micro-unit integer means (exact, truncating division),
    * micro/10⁶ double centroids, re-assignment, probes, candidate join,
    * rank. Cells that lose every member fall back to their seed
    * centroid in both engines. Search cost is identical to
    * `ann_ivf_topk` (the codebook is the same C×d broadcast — training
    * only moved the values); what training buys is better-balanced
    * cells, i.e. bounded per-probe candidate I/O at scale.
    */
  val annIvfTrained: QueryDef = QueryDef(
    "ann_ivf_trained",
    s"""WITH e0 AS ($sqlNorms),
       |e AS (SELECT * FROM e0 WHERE nrm > 0),
       |cent AS (SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm
       |         FROM e ORDER BY ${h64Sql("vec_id::VARCHAR")}, vec_id LIMIT $NCentroids),
       |s0 AS (SELECT e.vec_id, e.embedding, cent.cid,
       |              row_number() OVER (PARTITION BY e.vec_id
       |                 ORDER BY ${sqlDot("e.embedding", "cent.c_emb")}
       |                       / (e.nrm * cent.c_nrm) DESC, cent.cid) AS crn
       |       FROM e, cent),
       |a0 AS (SELECT vec_id, embedding, cid AS cell FROM s0 WHERE crn = 1),
       |comps AS (SELECT cell, g.i AS i,
       |                 CAST(floor(embedding[g.i]::DOUBLE * 1000000) AS BIGINT) AS q
       |          FROM a0, generate_series(1, $Dim) g(i)),
       |upd AS (SELECT cell, i, CAST(sum(q) AS BIGINT) // count(*) AS m
       |        FROM comps GROUP BY cell, i),
       |tc AS (SELECT cell AS cid, list(m / 1000000.0 ORDER BY i) AS c_emb
       |       FROM upd GROUP BY cell),
       |nc AS (SELECT cent.cid,
       |              coalesce(tc.c_emb,
       |                       list_transform(cent.c_emb, x -> x::DOUBLE)) AS c_emb
       |       FROM cent LEFT JOIN tc ON tc.cid = cent.cid),
       |ncn AS (SELECT cid, c_emb,
       |               sqrt(list_reduce(list_transform(generate_series(1, $Dim),
       |                    i -> c_emb[i] * c_emb[i]), (x, y) -> x + y)) AS c_nrm
       |        FROM nc),
       |s1 AS (SELECT e.vec_id, ncn.cid,
       |              row_number() OVER (PARTITION BY e.vec_id
       |                 ORDER BY ${sqlDot("e.embedding", "ncn.c_emb")}
       |                       / (e.nrm * ncn.c_nrm) DESC, ncn.cid) AS crn
       |       FROM e, ncn),
       |assign AS (SELECT vec_id, cid AS cell FROM s1 WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, cid AS cell
       |           FROM s1 WHERE vec_id < $NQueries AND crn <= 2),
       |p AS (SELECT probes.query_id, assign.vec_id,
       |             ${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS sim
       |      FROM probes
       |      JOIN assign ON assign.cell = probes.cell
       |                 AND assign.vec_id <> probes.query_id
       |      JOIN e q ON q.vec_id = probes.query_id
       |      JOIN e ON e.vec_id = assign.vec_id),
       |r AS (SELECT query_id, vec_id, sim,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY sim DESC, vec_id) AS rnk
       |      FROM p)
       |SELECT query_id, rnk, vec_id, round(sim, 6) AS cos_sim
       |FROM r WHERE rnk <= $TopK""".stripMargin) { t =>
    val e = t.embeddings
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    ivfSearch(e, kmeansTrain(e, NCentroids, 1))
  }

  /** Recall of the uncompressed IVF index (coarse cells, exact vectors
    * in-cell): isolates the probe miss rate with no quantization noise.
    */
  val annRecallIvf: QueryDef = recallVsBrute("ann_recall_ivf", annIvfTopk)

  /** Recall@k of an approximate index against the exact brute force,
    * as one oracle-checked row per query — the measurement loop every
    * ANN deployment runs continuously (recall regressions are how a
    * stale or skewed codebook is noticed). Both legs reuse their own
    * oracle chains verbatim as subqueries, so the compare can never
    * drift from the operators it grades; output is all-integer (hits,
    * per-mille recall), so the cross-engine hash is exact. At scale the
    * brute leg runs on a SAMPLE of queries (it is the expensive leg by
    * construction); the metric shape is unchanged.
    */
  private def recallVsBrute(name: String, approx: QueryDef): QueryDef = QueryDef(
    name,
    s"""WITH btop AS (SELECT query_id, vec_id FROM (${annBruteTopk.oracle.get})),
       |itop AS (SELECT query_id, vec_id FROM (${approx.oracle.get}))
       |SELECT btop.query_id,
       |       CAST(count(itop.vec_id) AS BIGINT) AS hits,
       |       CAST(count(itop.vec_id) AS BIGINT) * 1000 // $TopK AS recall_permille
       |FROM btop LEFT JOIN itop ON itop.query_id = btop.query_id
       |                        AND itop.vec_id = btop.vec_id
       |GROUP BY btop.query_id""".stripMargin) { t =>
    val brute = annBruteTopk.run(t.spark, t.dir).select(col("query_id"), col("vec_id"))
    val hit = approx.run(t.spark, t.dir)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    brute.join(hit, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("query_id"), col("hits"),
        expr(s"hits * 1000 div $TopK").as("recall_permille"))
  }

  /** Recall of the compressed IVF-PQ index: PQ adds quantization noise
    * on top of the probe miss rate, so this is the number watched before
    * shipping a smaller code budget.
    */
  val annRecallIvfPq: QueryDef = recallVsBrute("ann_recall_ivfpq", annIvfPq)

  /** Recall of the single-probe LSH index — the cheapest index and the
    * lowest recall in the family by construction (one bucket per
    * query); its measured floor is what justifies multiprobe's extra
    * candidate fan-out.
    */
  val annRecallLsh: QueryDef = recallVsBrute("ann_recall_lsh", annLshTopk)

  /** Recall of multiprobe LSH — the same index served with neighboring
    * buckets probed; the lsh→multiprobe recall delta per unit of extra
    * candidates is the knob a deployment tunes, so both ends are
    * measured rows.
    */
  val annRecallMultiprobe: QueryDef =
    recallVsBrute("ann_recall_multiprobe", annLshMultiprobe)

  /** Random-projection dimensionality reduction (the JL sketch): every
    * embedding projects onto [[ProjPlanes]] fixed hyperplanes — 64 → 16
    * dims as a pure map over a broadcast-constant plane matrix, the
    * standard cheap pre-filter for embedding pipelines (coarse distance
    * screening, visualization, cache-resident indexes). The plane
    * family extends the LSH planes' LCG stream, so the SIGN of
    * component p < [[Planes]] is by construction the LSH bucket's bit
    * p (`ann_lsh_topk`'s bucketCol) — the projection is the continuous
    * refinement of that bucket id, EmbProjectSpec pins the identity.
    * Components ship as exact micro-unit integers: the dot runs in the
    * identical operand order in both engines and floor(×10⁶) is exact,
    * so the oracle compare is bit-exact. One scan, no shuffle; at
    * 100 TB this is a map-only column add.
    */
  val embProject: QueryDef = QueryDef(
    "emb_project",
    s"""WITH pl(k, v) AS (VALUES ${(0 until ProjPlanes)
          .map(p => s"(${p}::BIGINT, ${projPlanes(p).mkString("[", ",", "]")}::DOUBLE[])")
          .mkString(",\n      ")}),
       |e AS (SELECT vec_id, embedding FROM embeddings)
       |SELECT e.vec_id, pl.k AS pos,
       |       CAST(floor(${sqlDot("e.embedding", "pl.v")} * 1000000) AS BIGINT) AS p_micro
       |FROM e CROSS JOIN pl""".stripMargin) { t =>
    val projCols = (0 until ProjPlanes).map(p =>
      struct(lit(p.toLong).as("pos"),
        floor(dotLit(col("embedding"), projPlanes(p)) * 1000000).cast("long").as("p_micro")))
    t.embeddings
      .select(col("vec_id"), explode(array(projCols: _*)).as("pr"))
      .select(col("vec_id"), col("pr.pos").as("pos"), col("pr.p_micro").as("p_micro"))
  }

  /** Metadata-FILTERED vector search: exact cosine top-k restricted to
    * candidates with `label = 7` — the "filtered ANN" every retrieval
    * serving layer needs (search within a tenant / language / source).
    * The predicate applies BEFORE norms and distances, as a pushed-down
    * parquet filter on the candidate scan — pre-filtering, not
    * post-filtering: post-filtering a top-k (the naive composition)
    * under-fills k whenever the filter is selective, and at 100 TB
    * scans the whole index for a slice of it. With the IVF index the
    * same predicate composes with cell pruning (label partitions or
    * row-group stats), the standard production layout.
    */
  val annFilteredTopk: QueryDef = QueryDef(
    "ann_filtered_topk", sqlBruteTopk("label = 7")) { t =>
    bruteTopk(t,
      t.embeddings.filter(col("label") === 7)
        .select(col("vec_id"), col("embedding")))
  }

  val all: Seq[QueryDef] =
    Seq(annBruteTopk, annLshTopk, annLshMultiprobe, annIvfTopk, annPqAdc,
      annIvfPq, embQuantize, annInt8Topk, kmeansRefine, annIvfTrained,
      annRecallIvf, annRecallIvfPq, annRecallLsh, annRecallMultiprobe,
      embProject, annFilteredTopk)
}
