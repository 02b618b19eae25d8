package graft.queries

import graft.{Pins, QueryDef, QueryModule, Tables}
import graft.functions.{aggregates, vector}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, a sign-bit LSH
  * bucketed variant as the sub-quadratic scale path, and cosine near-dup
  * pair mining.
  *
  * Numeric determinism: every dot product is a *sequential left fold over
  * doubles* (floats are cast to double before any multiply), identical on
  * the Spark side (`aggregate(zip_with(...))`) and the DuckDB oracle
  * (`list_reduce(list_transform(...))`), so results are bit-stable across
  * engines and partitionings; cosines are additionally rounded to 6 dp
  * before ranking so ordering can never hinge on a final ulp.
  *
  * Scale path (100 TB): the brute-force join is O(n^2) and exists as the
  * correctness baseline; the LSH variant shuffles on a 256-way bucket key so
  * each task compares only its bucket. The production upgrade is IVF: k-means
  * centroids broadcast, vectors shuffled to nearest-centroid partitions, and
  * probes limited to the closest few cells — same join shape as the LSH
  * variant, with learned rather than axis-aligned cells.
  */
object VectorQueries extends QueryModule {

  /** Vectors with precomputed double array + L2 norm (native codegen'd
    * dot product — see graft.functions.ArrayDotProduct). */
  private[queries] def normed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .withColumn("v", $"embedding".cast("array<double>"))
      .withColumn("nrm", vector.norm($"v"))
      .select($"vec_id", $"v", $"nrm")
  }
  private[queries] val normedSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e)""".stripMargin

  private[queries] def cosSpark(implicit s: SparkSession): Column = {
    import s.implicits._
    vector.dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm")
  }
  private[queries] val cosDuck =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(1, 65), i -> a.v[i] * b.v[i])), (x, y) -> x + y)
      |    / (a.nrm * b.nrm)""".stripMargin

  /** q29: brute-force cosine k-NN, k=5 — the exact baseline every ANN
    * variant is measured against. Fully distributed (see exactTopK): the
    * index side ships once per executor as a real BroadcastExchange and
    * the native bounded top-k aggregate collapses the n² candidate stream
    * map-side, so nothing ever rides through the driver. At 100 TB the
    * index side no longer broadcasts whole — q30's bucketed form (or IVF
    * cells, q59) is the upgrade, with this same per-cell shape inside.
    * Baseline/scale-path contract: this is a DECLARED-quadratic exactness
    * baseline — SCALE.md measures it super-linear as declared (3.9× wall
    * at ×4 data = n² dot products), while the gated scale paths q30/q59
    * measure sub-linear; q70 measures the recall the swap costs. */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    exactTopK(s, dir, 5).orderBy($"vec_id", $"rk")
  }

  /** q215: reciprocal nearest neighbors — unordered pairs (a, b) where
    * each is the other's TOP-1 cosine neighbor. The mutual filter is the
    * standard "is this really the same thing?" tightening over one-way
    * nearest neighbors (used to seed merge decisions in semantic-dedup
    * and cluster-agglomeration pipelines — cf. Abbas et al. 2023's
    * within-cluster pairing): one-way argmax is noisy under hubness; a
    * hub vector is many items' top-1 but reciprocates at most once.
    * Built on exactTopK(k=1) — the bounded-aggregate argmax with the
    * (cos desc, id asc) tie-break — plus ONE self-join on the per-vector
    * one-row result, so the reciprocity step is linear however the
    * top-1s were produced (swap in the q59 IVF candidates at scale; the
    * mutual join is unchanged). */
  private def q215(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nn1 = exactTopK(s, dir, 1).select($"vec_id", $"nn_vec", $"cos_sim")
    nn1.where($"vec_id" < $"nn_vec").as("x")
      .join(nn1.where($"vec_id" > $"nn_vec").as("y"),
        $"x.vec_id" === $"y.nn_vec" && $"x.nn_vec" === $"y.vec_id")
      .select($"x.vec_id".as("vec_a"), $"x.nn_vec".as("vec_b"),
        $"x.cos_sim".as("cos_sim"))
      .orderBy($"vec_a")
  }
  private val q215Sql =
    s"""$normedSql,
      |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nn_vec,
      |    round($cosDuck, 6) AS cos_sim
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos_sim DESC, nn_vec) AS rk FROM p),
      |t1 AS (SELECT vec_id, nn_vec, cos_sim FROM r WHERE rk = 1)
      |SELECT x.vec_id AS vec_a, x.nn_vec AS vec_b, x.cos_sim AS cos_sim
      |FROM t1 x JOIN t1 y ON x.vec_id = y.nn_vec AND x.nn_vec = y.vec_id
      |WHERE x.vec_id < x.nn_vec
      |ORDER BY vec_a""".stripMargin
  private val q29Sql =
    s"""$normedSql,
      |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nn_vec,
      |    round($cosDuck, 6) AS cos_sim
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos_sim DESC, nn_vec) AS rk FROM p)
      |SELECT vec_id, rk, nn_vec, cos_sim FROM r WHERE rk <= 5
      |ORDER BY vec_id, rk""".stripMargin

  /** q30: LSH-bucketed ANN — 8 sign-bit axis projections give a 256-way
    * bucket key; candidates are generated only within a bucket (top-3 each).
    * This is the join shape that survives 100x data: shuffle on bucket,
    * per-bucket pairing, never all-pairs. */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val bucketed = normed(s, dir).withColumn("bucket", vector.signBits($"v", 0, 8))
    bucketed.as("a").join(bucketed.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("vec_id"), $"a.bucket".as("bucket"),
        $"b.vec_id".as("nn_vec"), round(cosSpark, 6).as("cos_sim"))
      .groupBy($"vec_id", $"bucket")
      .agg(aggregates.topKByScore($"cos_sim", $"nn_vec", 3).as("top"))
      .select($"vec_id", $"bucket", posexplode($"top").as(Seq("rk0", "t")))
      .select($"vec_id", $"bucket", ($"rk0" + 1).as("rk"),
        $"t.id".as("nn_vec"), $"t.score".as("cos_sim"))
      .orderBy($"vec_id", $"rk")
  }
  private val q30Sql =
    s"""$normedSql,
      |bk AS (SELECT vec_id, v, nrm,
      |    list_reduce(list_prepend(0, list_transform(range(1, 9),
      |      j -> CASE WHEN v[j] >= 0 THEN (1 << (j - 1)) ELSE 0 END)),
      |      (acc, x) -> acc + x) AS bucket
      |  FROM n),
      |p AS (SELECT a.vec_id AS vec_id, a.bucket AS bucket, b.vec_id AS nn_vec,
      |    round($cosDuck, 6) AS cos_sim
      |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos_sim DESC, nn_vec) AS rk FROM p)
      |SELECT vec_id, bucket, rk, nn_vec, cos_sim FROM r WHERE rk <= 3
      |ORDER BY vec_id, rk""".stripMargin

  /** q316: HARD-NEGATIVE mining — the contrastive-training data-prep op
    * (embedder/reranker training wants negatives that are CLOSE to the
    * anchor but wrong, not random: random negatives q219 already gates;
    * hard ones are what move the loss). Labels are a deterministic class
    * key (vec_id mod 7 — the class structure the miner must respect, not
    * learn); every 23rd vector anchors; candidates come from the anchor's
    * sign-bit LSH bucket (the q30 scale contract: shuffle on bucket,
    * never all-pairs — candidate generation is part of the gate's
    * semantics and the oracle replays it), are filtered to DIFFERENT
    * labels, and the top-3 by (cosine DESC, id) ride the bounded
    * [[graft.functions.aggregates.topKByScore]] aggregate. Output keeps
    * the negative's label so a training consumer can stratify. */
  private def q316(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val lab = normed(s, dir)
      .withColumn("label", pmod($"vec_id", lit(7L)))
      .withColumn("bucket", vector.signBits($"v", 0, 8))
    lab.filter($"vec_id" % 23 === 0).as("a")
      .join(lab.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.label" =!= $"b.label")
      .select($"a.vec_id".as("anchor"), $"a.label".as("anchor_label"),
        $"b.vec_id".as("neg_vec"), round(cosSpark, 6).as("cos_sim"))
      .groupBy($"anchor", $"anchor_label")
      .agg(aggregates.topKByScore($"cos_sim", $"neg_vec", 3).as("top"))
      .select($"anchor", $"anchor_label",
        posexplode($"top").as(Seq("rk0", "t")))
      .select($"anchor", $"anchor_label", ($"rk0" + 1).cast("long").as("rk"),
        $"t.id".as("neg_vec"), pmod($"t.id", lit(7L)).as("neg_label"),
        $"t.score".as("cos_sim"))
      .orderBy($"anchor", $"rk")
  }
  private val q316Sql =
    s"""$normedSql,
      |bk AS (SELECT vec_id, v, nrm, vec_id % 7 AS label,
      |    list_reduce(list_prepend(0, list_transform(range(1, 9),
      |      j -> CASE WHEN v[j] >= 0 THEN (1 << (j - 1)) ELSE 0 END)),
      |      (acc, x) -> acc + x) AS bucket
      |  FROM n),
      |p AS (SELECT a.vec_id AS anchor, a.label AS anchor_label,
      |    b.vec_id AS neg_vec, b.label AS neg_label,
      |    round($cosDuck, 6) AS cos_sim
      |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.label <> b.label
      |  WHERE a.vec_id % 23 = 0),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
      |    ORDER BY cos_sim DESC, neg_vec) AS rk FROM p)
      |SELECT anchor, anchor_label, CAST(rk AS BIGINT) AS rk, neg_vec,
      |  neg_label, cos_sim
      |FROM r WHERE rk <= 3 ORDER BY anchor, rk""".stripMargin

  /** q322: embedding-space ISOLATE detection — the vector-quality filter
    * a curation pipeline runs on freshly-computed embeddings (q84's
    * z-score flags SCALAR outliers; junk embeddings show up as vectors
    * with no close neighbor anywhere): a vector is flagged when its LSH
    * bucket holds no other vector at all (bucket singleton — nothing
    * even candidates with it) or when its best in-bucket cosine falls
    * below 0.1. Candidates come from the q30 bucket contract (never
    * all-pairs); the best-neighbor score rides the bounded top-1
    * aggregate; singletons surface through a left anti-join, score NULL.
    * Output is the FLAGGED set only — at healthy corpus geometry that is
    * a small fraction, and the gate pins both the flag rule and the
    * per-vector best scores. */
  private def q322(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val bk = normed(s, dir)
      .withColumn("bucket", vector.signBits($"v", 0, 8)).localCheckpoint(true)
    val best = bk.as("a").join(bk.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("vec_id"), $"a.bucket".as("bucket"),
        round(cosSpark, 6).as("cos_sim"))
      .groupBy($"vec_id", $"bucket")
      .agg(max($"cos_sim").as("best_cos"))
    val singletons = bk.select($"vec_id", $"bucket")
      .join(best.select($"vec_id"), Seq("vec_id"), "leftanti")
      .select($"vec_id", $"bucket",
        lit(null).cast("double").as("best_cos"),
        lit("singleton_bucket").as("reason"))
    best.filter($"best_cos" < 0.1)
      .select($"vec_id", $"bucket", $"best_cos",
        lit("low_best_cosine").as("reason"))
      .unionAll(singletons)
      .orderBy($"vec_id")
  }
  private val q322Sql =
    s"""$normedSql,
      |bk AS (SELECT vec_id, v, nrm,
      |    list_reduce(list_prepend(0, list_transform(range(1, 9),
      |      j -> CASE WHEN v[j] >= 0 THEN (1 << (j - 1)) ELSE 0 END)),
      |      (acc, x) -> acc + x) AS bucket
      |  FROM n),
      |best AS (SELECT a.vec_id, a.bucket,
      |    max(round($cosDuck, 6)) AS best_cos
      |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      |  GROUP BY 1, 2)
      |SELECT vec_id, bucket, best_cos, 'low_best_cosine' AS reason
      |FROM best WHERE best_cos < 0.1
      |UNION ALL
      |SELECT k.vec_id, k.bucket, NULL, 'singleton_bucket'
      |FROM bk k WHERE k.vec_id NOT IN (SELECT vec_id FROM best)
      |ORDER BY vec_id""".stripMargin

  /** q31: embedding-cosine near-dup pairs (cos >= 0.4, a < b) — the
    * embedding-space analog of q26's text Jaccard near-dup. All-pairs via
    * the same constant-key BroadcastHashJoin shape as exactTopK; the
    * `vec_id < bid` guard evaluates every unordered pair exactly once.
    * This is the EXACTNESS baseline (O(n²) by definition); the production
    * path is `Dedup.nearCosine` — banded sign-bit LSH candidates, exact
    * cosine confirmation — which q69 gates end to end. Measured contract
    * (SCALE.md): this baseline runs 2.5× wall at ×4 data (super-linear as
    * declared); the q69 banded path is the reshape the engine exists for
    * (4.4 s vs DuckDB's 90.3 s all-pairs at sf0.1). */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val n = normed(s, dir)
    val a = n.repartition(32).withColumn("__one", pmod($"vec_id", lit(1L)))
    val b = n.select($"vec_id".as("bid"), $"v".as("bv"), $"nrm".as("bnrm"))
      .withColumn("__one", pmod($"bid", lit(1L)))
    a.join(broadcast(b), "__one")
      .filter($"vec_id" < $"bid")
      .select($"vec_id".as("vec_a"), $"bid".as("vec_b"),
        round(vector.dot($"v", $"bv") / ($"nrm" * $"bnrm"), 6).as("cos_sim"))
      .filter($"cos_sim" >= 0.4)
      .orderBy($"vec_a", $"vec_b")
  }
  private val q31Sql =
    s"""$normedSql,
      |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    round($cosDuck, 6) AS cos_sim
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  /** q59: IVF ANN — the production kNN path, collect-free end to end.
    *
    * Index build: 16 coarse cells seeded by a 4-sign-bit LSH split, then
    * one exact Lloyd half-step — each cell's centroid is the per-dimension
    * mean of its members. Means go through DECIMAL(20,12) sums so they are
    * order-independent (bit-identical across partitionings and engines);
    * only the final divide is double. Every vector is assigned to its
    * nearest centroid (rounded cosine, ties to the lower cell) — that is
    * the inverted list. Search: each query probes its nprobe=2 nearest
    * centroids' lists and ranks exact rounded cosine, top-5.
    *
    * Scale shape: centroid table is 16 rows (broadcast by construction —
    * model state, not data); the only big shuffles are the per-(cell,dim)
    * partial-aggregated mean and the probe->list equi-join on cell id.
    * Recall is approximate by design; q29 is the exactness baseline it is
    * measured against. The assignment join keys both sides on a
    * data-derived constant (pmod(id, 1) = 0) so it plans as a
    * BroadcastHashJoin — a literal key would constant-fold to `true` and
    * fall back to BroadcastNestedLoopJoin. */
  /** IVF index + search, shared by q59 (the ranking) and q70 (the recall
    * measurement): returns (ranked cell assignments with `crk`, un-sorted
    * top-5 rows). Its pins belong to the caller's `pins` scope. */
  private[queries] def ivfRankedAndTop(s: SparkSession, dir: String,
      pins: Pins, nprobe: Int = 2): (DataFrame, DataFrame) = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val celled = normed(s, dir).withColumn("cell", vector.signBits($"v", 0, 4))
    // The centroid table (16 rows) and the pruned assignment are
    // localCheckpointed: members, probes, and the assignment all reference
    // them, and without the cut each branch would recompute the centroid
    // aggregate — measured 2.3x slower. Checkpointing model state (16
    // centroids + 2 rows/vector) is distributed, not a driver collect.
    val cents = pins(celled
      .select($"cell", posexplode($"v").as(Seq("d", "x")))
      .groupBy($"cell", $"d")
      .agg((sum($"x".cast("decimal(20,12)")).cast("double") / count(lit(1))).as("cx"))
      .groupBy($"cell")
      .agg(sort_array(collect_list(struct($"d", $"cx"))).as("ds"))
      .select($"cell".as("ccell"), expr("transform(ds, s -> s.cx)").as("cv"))
      .withColumn("cnrm", vector.norm($"cv")))
    val assign = celled.withColumn("one", pmod($"vec_id", lit(1L)))
      .join(broadcast(cents.withColumn("one", pmod($"ccell", lit(1)).cast("long"))), "one")
      .select($"vec_id", $"v", $"nrm", $"ccell",
        round(vector.dot($"v", $"cv") / ($"nrm" * $"cnrm"), 6).as("ccos"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"ccell")
    val ranked = pins(assign.withColumn("crk", row_number().over(wAssign))
      .filter($"crk" <= nprobe))
    val members = ranked.filter($"crk" === 1)
      .select($"ccell".as("mcell"), $"vec_id".as("mid"), $"v".as("mv"), $"nrm".as("mnrm"))
    val probes = ranked.select($"vec_id", $"v", $"nrm", $"ccell".as("pcell"))
    // top-5 via the native bounded-buffer aggregate (map-side collapse)
    // rather than a row_number window — no sort of the candidate stream.
    val top = probes.join(members, $"pcell" === $"mcell" && $"vec_id" =!= $"mid")
      .select($"vec_id", $"mid",
        round(vector.dot($"v", $"mv") / ($"nrm" * $"mnrm"), 6).as("cos_sim"))
      .groupBy($"vec_id")
      .agg(aggregates.topKByScore($"cos_sim", $"mid", 5).as("top"))
      .select($"vec_id", posexplode($"top").as(Seq("rk0", "t")))
      .select($"vec_id", ($"rk0" + 1).as("rk"),
        $"t.id".as("nn_vec"), $"t.score".as("cos_sim"))
    (ranked, top)
  }

  private def q59(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    ivfRankedAndTop(s, dir, pins)._2.orderBy($"vec_id", $"rk")
  }

  /** CTE stack replicating the IVF pipeline (exposes `rkd` with per-vector
    * cell ranks and `top` with the ranked candidate list); shared by the
    * q59 and q70 oracles. */
  private val ivfCtes =
    s"""$normedSql,
      |cl AS (SELECT vec_id, v, nrm,
      |    list_reduce(list_prepend(0, list_transform(range(1, 5),
      |      j -> CASE WHEN v[j] >= 0 THEN (1 << (j - 1)) ELSE 0 END)),
      |      (a, b) -> a + b) AS cell
      |  FROM n),
      |cd AS (SELECT cell, dd.d AS d,
      |    CAST(sum(CAST(v[dd.d] AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS cx
      |  FROM cl CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd GROUP BY 1, 2),
      |cent AS (SELECT cell AS ccell, list(cx ORDER BY d) AS cv FROM cd GROUP BY cell),
      |centn AS (SELECT ccell, cv,
      |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(cv, x -> x * x)), (a, b) -> a + b)) AS cnrm
      |  FROM cent),
      |asg AS (SELECT cl.vec_id, cl.v, cl.nrm, centn.ccell,
      |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(1, 65), i -> cl.v[i] * centn.cv[i])),
      |      (x, y) -> x + y) / (cl.nrm * centn.cnrm), 6) AS ccos
      |  FROM cl CROSS JOIN centn),
      |rkd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY ccos DESC, ccell) AS crk FROM asg),
      |mem AS (SELECT ccell AS mcell, vec_id AS mid, v AS mv, nrm AS mnrm
      |  FROM rkd WHERE crk = 1),
      |prb AS (SELECT vec_id, v, nrm, ccell AS pcell FROM rkd WHERE crk <= 2),
      |cnd AS (SELECT p.vec_id, m.mid,
      |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(1, 65), i -> p.v[i] * m.mv[i])),
      |      (x, y) -> x + y) / (p.nrm * m.mnrm), 6) AS cos_sim
      |  FROM prb p JOIN mem m ON p.pcell = m.mcell AND p.vec_id <> m.mid),
      |top AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos_sim DESC, mid) AS rk FROM cnd)""".stripMargin
  private val q59Sql =
    s"""$ivfCtes
      |SELECT vec_id, rk, mid AS nn_vec, cos_sim FROM top WHERE rk <= 5
      |ORDER BY vec_id, rk""".stripMargin

  /** Exact cosine top-k, fully distributed: the all-pairs comparison runs
    * as a BroadcastHashJoin on a data-derived constant key (the q59
    * assignment trick — a literal key would constant-fold to `true` and
    * plan a BroadcastNestedLoopJoin), with the query side repartitioned
    * for parallelism and the native bounded top-k aggregate collapsing
    * candidates map-side. Ranking is rounded cosine desc, id asc; q29 is
    * this computation, and q70 reuses it as the exact reference — the
    * shape the exact side of an eval pipeline runs at scale, where "index
    * side broadcasts whole" still holds for the evaluation SAMPLE even
    * when the corpus itself is 100 TB. */
  private def exactTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val n = normed(s, dir)
    val a = n.repartition(32).withColumn("__one", pmod($"vec_id", lit(1L)))
    val b = n.select($"vec_id".as("bid"), $"v".as("bv"), $"nrm".as("bnrm"))
      .withColumn("__one", pmod($"bid", lit(1L)))
    a.join(broadcast(b), "__one")
      .filter($"vec_id" =!= $"bid")
      .select($"vec_id", $"bid",
        round(vector.dot($"v", $"bv") / ($"nrm" * $"bnrm"), 6).as("cos_sim"))
      .groupBy($"vec_id")
      .agg(aggregates.topKByScore($"cos_sim", $"bid", k).as("top"))
      .select($"vec_id", posexplode($"top").as(Seq("rk0", "t")))
      .select($"vec_id", ($"rk0" + 1).as("rk"),
        $"t.id".as("nn_vec"), $"t.score".as("cos_sim"))
  }

  /** q70: measured recall@5 of the IVF index (q59) against the exact
    * cosine ranking (q29's semantics, computed distributed) — the number
    * an ANN deployment quotes before trusting the index at corpus scale.
    * Output is per-IVF-cell so recall loss localizes to cells (a skewed
    * or badly-seeded cell shows up as the low row, which is the signal
    * that triggers re-clustering in production). The oracle recomputes
    * both rankings and the same join in DuckDB. */
  private def q70(s: SparkSession, dir: String): DataFrame =
    ivfRecallAt(s, dir, nprobe = 2)

  /** q70's recall measurement at a configurable probe width — the tuning
    * knob a deployment turns when clusters outnumber cells and nprobe=2
    * recall degrades (AdversarialGeometrySpec measures exactly that on a
    * 48-clusters-in-16-cells fixture). nprobe=2 IS q70 (gate-pinned). */
  private[queries] def ivfRecallAt(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val (ranked, ivf) = ivfRankedAndTop(s, dir, pins, nprobe)
    val exact = exactTopK(s, dir, 5).select($"vec_id", $"nn_vec")
    val hits = exact
      .join(ivf.select($"vec_id", $"nn_vec", lit(1).as("__hit")),
        Seq("vec_id", "nn_vec"), "left")
      .groupBy($"vec_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce($"__hit", lit(0))).as("n_hit"))
    val cells = ranked.filter($"crk" === 1)
      .select($"vec_id", $"ccell".cast("long").as("cell"))
    cells.join(hits, "vec_id")
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_queries"),
        round(sum($"n_hit") / sum($"n_exact").cast("double"), 6).as("recall_at_5"))
      .orderBy($"cell")
  }
  private val q70Sql =
    s"""$ivfCtes,
      |xp AS (SELECT a.vec_id AS vec_id, b.vec_id AS nn_vec,
      |    round($cosDuck, 6) AS cos_sim
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |xr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos_sim DESC, nn_vec) AS rk FROM xp),
      |ex AS (SELECT vec_id, nn_vec FROM xr WHERE rk <= 5),
      |iv AS (SELECT vec_id, mid AS nn_vec FROM top WHERE rk <= 5),
      |ht AS (SELECT e.vec_id, count(*) AS n_exact,
      |    CAST(sum(CASE WHEN i.nn_vec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM ex e LEFT JOIN iv i
      |    ON e.vec_id = i.vec_id AND e.nn_vec = i.nn_vec
      |  GROUP BY e.vec_id),
      |cellmap AS (SELECT vec_id, CAST(ccell AS BIGINT) AS cell
      |  FROM rkd WHERE crk = 1)
      |SELECT c.cell, count(*) AS n_queries,
      |  round(CAST(sum(h.n_hit) AS DOUBLE) / CAST(sum(h.n_exact) AS DOUBLE), 6) AS recall_at_5
      |FROM cellmap c JOIN ht h ON c.vec_id = h.vec_id
      |GROUP BY c.cell ORDER BY c.cell""".stripMargin

  /** q93: Product Quantization ANN with asymmetric-distance (ADC) search
    * and in-gate recall@10 vs the exact L2 ranking.
    *
    * Index: the 64-dim space splits into M=4 subspaces of 16 dims; each
    * subspace trains ≤256 centroids (8-sign-bit-seeded cells + one exact
    * Lloyd half-step with DECIMAL means — the q59 recipe per subspace) and
    * every vector compresses to 4 one-byte codes (64x memory cut — the
    * point of PQ: the codes fit in RAM when the vectors don't). Search:
    * each query precomputes a 4x256 lookup table of partial squared
    * distances to every centroid (the ADC table), so scoring a database
    * vector is 4 table lookups + a sum — the candidate scan never touches
    * raw vectors; only the 50 ADC survivors per query fetch raw vectors
    * for an exact re-rank (the standard PQ serving pipeline). Per-(query, vector) partials sum through DECIMAL so the
    * total is partition-order-independent; both engines rank on the
    * 6-dp-rounded distance with id tie-break.
    *
    * Scale shape: centroids are model state (64 rows, broadcast); codes
    * join the broadcast LUT on (subspace, code) — no shuffle of vector
    * payloads anywhere in the search path. The exact side exists ONLY to
    * measure recall (the q70 pattern); at 100 TB it is a sampled audit,
    * not a query path. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val base = Tables.embeddings(s, dir)
      .withColumn("v", $"embedding".cast("array<double>"))
    val sub = base.select($"vec_id", explode(expr(
        "transform(sequence(0, 3), m -> struct(m AS m, slice(v, m * 16 + 1, 16) AS sv))")).as("s"))
      .select($"vec_id", $"s.m".as("m"), $"s.sv".as("sv"))
    val celled = sub.withColumn("cell", vector.signBits($"sv", 0, 8))
    val cents = celled
      .select($"m", $"cell", posexplode($"sv").as(Seq("d", "x")))
      .groupBy($"m", $"cell", $"d")
      .agg((sum($"x".cast("decimal(20,12)")).cast("double") / count(lit(1))).as("cx"))
      .groupBy($"m", $"cell")
      .agg(sort_array(collect_list(struct($"d", $"cx"))).as("ds"))
      .select($"m".as("cm"), $"cell".as("ccell"), expr("transform(ds, t -> t.cx)").as("cv"))
      .localCheckpoint()
    // every (vector, subspace, centroid) partial squared distance — the
    // argmin over it is the encoding, the query rows of it are the LUT
    val d2s = celled.join(broadcast(cents), $"m" === $"cm")
      .withColumn("d2", vector.sqDist($"sv", $"cv"))
    val wEnc = Window.partitionBy($"vec_id", $"m").orderBy($"d2", $"ccell")
    val enc = d2s.withColumn("rk", row_number().over(wEnc)).filter($"rk" === 1)
      .select($"vec_id", $"m", $"ccell".as("code"))
    val lut = d2s.filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"m".as("lm"), $"ccell".as("lcell"), $"d2".as("pd"))
    val adc = enc.join(broadcast(lut), $"m" === $"lm" && $"code" === $"lcell")
      .filter($"vec_id" =!= $"qid")
      .groupBy($"qid", $"vec_id")
      .agg(round(sum($"pd".cast("decimal(27,12)")).cast("double"), 6).as("ad2"))
    // candidate generation: top-50 by compressed (ADC) distance, then an
    // exact re-rank of ONLY those 50 — the standard PQ serving shape: the
    // scan stays in code space, raw vectors are fetched for a constant
    // number of candidates per query
    val cand = adc.groupBy($"qid")
      .agg(aggregates.topKByScore(-$"ad2", $"vec_id", 50).as("top"))
      .select($"qid", explode(expr("transform(top, t -> t.id)")).as("cid"))
    val sq = base.withColumn("ssq", vector.dot($"v", $"v"))
      .select($"vec_id", $"v", $"ssq")
    val qraw = sq.filter($"vec_id" < 50)
      .select($"vec_id".as("rqid"), $"v".as("rqv"), $"ssq".as("rqssq"))
    val pqt = cand
      .join(sq.withColumnRenamed("vec_id", "cid"), "cid")
      .join(broadcast(qraw), $"qid" === $"rqid")
      .select($"qid", $"cid",
        round($"rqssq" + $"ssq" - lit(2.0) * vector.dot($"rqv", $"v"), 6).as("rd2"))
      .groupBy($"qid")
      .agg(aggregates.topKByScore(-$"rd2", $"cid", 10).as("top"))
      .select($"qid", explode(expr("transform(top, t -> t.id)")).as("nn"))
    val qs = sq.filter($"vec_id" < 50)
      .select($"vec_id".as("qid2"), $"v".as("qv"), $"ssq".as("qssq"))
      .withColumn("one", pmod($"qid2", lit(1L)))
    val ext = sq.withColumn("one", pmod($"vec_id", lit(1L)))
      .join(broadcast(qs), "one")
      .filter($"vec_id" =!= $"qid2")
      .select($"qid2".as("xqid"), $"vec_id".as("cand"),
        round($"qssq" + $"ssq" - lit(2.0) * vector.dot($"qv", $"v"), 6).as("d2"))
      .groupBy($"xqid")
      .agg(aggregates.topKByScore(-$"d2", $"cand", 10).as("top"))
      .select($"xqid", explode(expr("transform(top, t -> t.id)")).as("xnn"))
    pqt.join(ext, $"qid" === $"xqid" && $"nn" === $"xnn", "left")
      .groupBy($"qid")
      .agg(count($"xnn").as("n_overlap_at_10"),
        round(count($"xnn") / lit(10.0), 6).as("recall_at_10"))
      .orderBy($"qid")
  }
  private val q93Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sub AS (SELECT vec_id, mm.m AS m, v[mm.m * 16 + 1 : mm.m * 16 + 16] AS sv
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS m) mm),
      |cl AS (SELECT vec_id, m, sv,
      |    list_reduce(list_prepend(0, list_transform(range(1, 9),
      |      j -> CASE WHEN sv[j] >= 0 THEN (1 << (j - 1)) ELSE 0 END)),
      |      (a, b) -> a + b) AS cell
      |  FROM sub),
      |cd AS (SELECT m, cell, dd.d AS d,
      |    CAST(sum(CAST(sv[dd.d] AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS cx
      |  FROM cl CROSS JOIN (SELECT unnest(range(1, 17)) AS d) dd
      |  GROUP BY 1, 2, 3),
      |cent AS (SELECT m AS cm, cell AS ccell, list(cx ORDER BY d) AS cv
      |  FROM cd GROUP BY 1, 2),
      |d2s AS (SELECT c.vec_id, c.m, ct.ccell,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 17),
      |      i -> (c.sv[i] - ct.cv[i]) * (c.sv[i] - ct.cv[i]))), (a, b) -> a + b) AS d2
      |  FROM cl c JOIN cent ct ON c.m = ct.cm),
      |enc AS (SELECT vec_id, m, ccell AS code FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, ccell) AS rk
      |    FROM d2s) t WHERE rk = 1),
      |lut AS (SELECT vec_id AS qid, m AS lm, ccell AS lcell, d2 AS pd
      |  FROM d2s WHERE vec_id < 50),
      |adc AS (SELECT l.qid, en.vec_id,
      |    round(CAST(sum(CAST(l.pd AS DECIMAL(27,12))) AS DOUBLE), 6) AS ad2
      |  FROM enc en JOIN lut l ON en.m = l.lm AND en.code = l.lcell
      |  WHERE en.vec_id <> l.qid GROUP BY 1, 2),
      |cnd AS (SELECT qid, vec_id AS cid FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ad2, vec_id) AS rk
      |    FROM adc) t WHERE rk <= 50),
      |sq AS (SELECT vec_id, v, list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(v, x -> x * x)), (a, b) -> a + b) AS ssq FROM e),
      |rr AS (SELECT c.qid, c.cid,
      |    round(q.ssq + x.ssq - 2 * list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(1, 65), i -> q.v[i] * x.v[i])), (a, b) -> a + b), 6) AS rd2
      |  FROM cnd c JOIN sq x ON c.cid = x.vec_id JOIN sq q ON c.qid = q.vec_id),
      |pqt AS (SELECT qid, cid AS nn FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rd2, cid) AS rk
      |    FROM rr) t WHERE rk <= 10),
      |ex0 AS (SELECT q.vec_id AS qid, x.vec_id AS nn,
      |    round(q.ssq + x.ssq - 2 * list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(1, 65), i -> q.v[i] * x.v[i])), (a, b) -> a + b), 6) AS d2
      |  FROM sq q JOIN sq x ON q.vec_id < 50 AND x.vec_id <> q.vec_id),
      |ext AS (SELECT qid, nn FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nn) AS rk
      |    FROM ex0) t WHERE rk <= 10)
      |SELECT p.qid, CAST(count(e.nn) AS BIGINT) AS n_overlap_at_10,
      |  round(count(e.nn) / 10.0, 6) AS recall_at_10
      |FROM pqt p LEFT JOIN ext e ON p.qid = e.qid AND p.nn = e.nn
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val pcaIters = 5

  /** q256: top principal component by power iteration over the EXACT
    * integer Gram matrix — the distributed linear-algebra kernel under
    * PCA whitening / spectral diagnostics of an embedding corpus. The
    * data-sized step is ONE pass: embeddings quantized to 1e-6 integer
    * grid, then the d(d+1)/2 Gram sums accumulate in the
    * partial-combinable [[org.apache.spark.sql.graft.GramMatrixLong]]
    * aggregate (map-side triangles, |exchange| = partitions·d²/2 — never
    * n·d exploded rows, never a 2080-way self-join). Power iteration then
    * runs on the driver over the collected d×d matrix — d² cells, the
    * same bounded-collect contract as KMeans' k·dims centroids — in pure
    * integer arithmetic: each round is w = G·v followed by divide-first
    * renormalization `x div max(max|·| div 1e6, 1)` (no 1e6 multiply that
    * could overflow int64). Truncating division matches DuckDB `//`
    * exactly (both toward zero, verified on negatives), so the oracle
    * replays the identical recurrence — Gram via a per-dim self-join,
    * iterations unrolled — and the final eigenvector hash-matches
    * bit-for-bit. */
  private def q256(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tri = Tables.embeddings(s, dir)
      .select(expr(
        "transform(cast(embedding as array<double>), x -> cast(round(x * 1000000) as bigint))")
        .as("qv"))
      .agg(org.apache.spark.sql.graft.gram.gramMatrixLong($"qv").as("g"))
      .collect().head.getSeq[Long](0).toArray
    // empty corpus → empty gram → empty eigenvector frame, not a crash
    // in the renormalization's max over zero cells
    if (tri.isEmpty)
      return Seq.empty[(Long, Long)].toDF("dim_idx", "comp_scaled")
    val d = (((math.sqrt(8.0 * tri.length + 1) - 1) / 2) + 0.5).toInt
    require(d * (d + 1) / 2 == tri.length, s"non-triangular gram: ${tri.length}")
    def cell(i: Int, j: Int): Long = {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      tri(a * d - a * (a - 1) / 2 + (b - a))
    }
    def renorm(x: Array[Long]): Array[Long] = {
      val m = x.map(math.abs).max
      val sh = math.max(m / 1000000L, 1L)
      x.map(_ / sh)
    }
    val g = renorm(tri)
    def gcell(i: Int, j: Int): Long = {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      g(a * d - a * (a - 1) / 2 + (b - a))
    }
    var v = Array.fill(d)(1000000L)
    for (_ <- 1 to pcaIters)
      v = renorm(Array.tabulate(d)(i =>
        (0 until d).map(j => gcell(i, j) * v(j)).sum))
    v.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
      .toDF("dim_idx", "comp_scaled").orderBy($"dim_idx")
  }
  private val q256Sql = {
    val iters = (1 to pcaIters).map { t =>
      s"""w$t AS MATERIALIZED (SELECT gf.i, CAST(sum(gf.g * v${t - 1}.v) AS BIGINT) AS w
         |  FROM gf JOIN v${t - 1} ON gf.j = v${t - 1}.i GROUP BY 1),
         |v$t AS MATERIALIZED (SELECT i, CAST(w // greatest(
         |    (SELECT max(abs(w)) FROM w$t) // 1000000, 1) AS BIGINT) AS v
         |  FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT e.vec_id, d.i,
       |    CAST(round(e.v[d.i] * 1000000) AS BIGINT) AS x
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e
       |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d),
       |g0 AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS g
       |  FROM q a JOIN q b USING (vec_id) WHERE a.i <= b.i GROUP BY 1, 2),
       |gs AS MATERIALIZED (SELECT i, j, CAST(g // greatest(
       |    (SELECT max(abs(g)) FROM g0) // 1000000, 1) AS BIGINT) AS g
       |  FROM g0),
       |gf AS MATERIALIZED (SELECT i, j, g FROM gs
       |  UNION ALL SELECT j, i, g FROM gs WHERE i <> j),
       |v0 AS (SELECT unnest(range(1, 65)) AS i, CAST(1000000 AS BIGINT) AS v),
       |$iters
       |SELECT CAST(i - 1 AS BIGINT) AS dim_idx, v AS comp_scaled
       |FROM v$pcaIters ORDER BY 1""".stripMargin
  }

  private val lpRounds = 2

  /** q257: semi-supervised label propagation over the exact-kNN graph —
    * the "label 1%, infer the rest" workhorse for corpus annotation: one
    * third of the vectors keep their label (vec_id % 3 = 0, a
    * deterministic mask), every unlabeled vector then takes the MAJORITY
    * label among its k=3 nearest labeled neighbors (count DESC, label ASC
    * tie-break), and newly labeled vectors vote in the next round. The
    * neighbor graph is q29's exact-cosine top-k (same rounded-cosine +
    * id tie-break contract), votes are integer counts, and the winner
    * rule is a deterministic window argmax — so two propagation rounds
    * replay exactly in the oracle. Scale shape: per round one join of the
    * static k·n edge list against the labeled set, one grouped count, one
    * per-node window over ≤ k·|labels| vote rows; the edge list is built
    * once (swap in q59's IVF candidates at corpus scale, rounds
    * unchanged). Baseline/scale-path contract: the candidate step here is
    * q29's DECLARED-quadratic exact-kNN — measured 18× wall at ×10 in
    * SCALE.md — and q260 is the gated IVF swap of the SAME rounds
    * (5.8× at ×10 with the gate-pinned 16-cell index; production grows
    * cells with n). */
  /** The propagation rounds shared by q257 (exact-kNN neighbors) and
    * q260 (IVF neighbors): seeds keep their label, unlabeled nodes take
    * the majority label of their labeled neighbors (count DESC, label ASC
    * tie-break), newly labeled nodes vote next round. `neighbors` builds
    * the (`vec_id`, `nn_vec`) list; any pin it makes goes through the
    * given scope. */
  private def lpPropagate(s: SparkSession, dir: String)(
      neighbors: Pins => DataFrame): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val nn = pins(neighbors(pins))
    val seeds = Tables.embeddings(s, dir)
      .filter($"vec_id" % 3 === 0)
      .select($"vec_id", $"label".cast("long").as("label"),
        lit("seed").as("origin"))
    var labeled = pins(seeds)
    for (r <- 1 to lpRounds) {
      val votes = nn
        .join(labeled.select($"vec_id".as("nid"), $"label"),
          $"nn_vec" === $"nid")
        .join(labeled.select($"vec_id"), Seq("vec_id"), "left_anti")
        .groupBy($"vec_id", $"label").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"vec_id").orderBy($"c".desc, $"label")
      val won = votes
        .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
        .select($"vec_id", $"label", lit(s"round$r").as("origin"))
      labeled = pins(labeled.union(won))
      pins.sweep(nn, labeled)
    }
    labeled.orderBy($"vec_id")
  }

  /** Oracle text for the propagation rounds — expects CTEs `nn` and `l0`
    * to be in scope; emits `l$lpRounds` plus the final projection. */
  private val lpRoundsSql: String = {
    val rounds = (1 to lpRounds).map { r =>
      s"""v$r AS MATERIALIZED (SELECT nn.vec_id, l.label, count(*) AS c
         |  FROM nn JOIN l${r - 1} l ON nn.nn_vec = l.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM l${r - 1} x
         |                    WHERE x.vec_id = nn.vec_id)
         |  GROUP BY 1, 2),
         |w$r AS MATERIALIZED (SELECT vec_id, label FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY c DESC, label) AS rk FROM v$r) t WHERE rk = 1),
         |l$r AS MATERIALIZED (SELECT * FROM l${r - 1}
         |  UNION ALL SELECT vec_id, label, 'round$r' FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    'seed' AS origin FROM embeddings WHERE vec_id % 3 = 0),
       |$rounds
       |SELECT vec_id, label, origin FROM l$lpRounds ORDER BY vec_id""".stripMargin
  }

  private def q257(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lpPropagate(s, dir)(_ => exactTopK(s, dir, 3).select($"vec_id", $"nn_vec"))
  }
  private val q257Sql =
    s"""$normedSql,
       |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nn_vec,
       |    round($cosDuck, 6) AS cos_sim
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, nn_vec) AS rk FROM p),
       |nn AS MATERIALIZED (SELECT vec_id, nn_vec FROM r WHERE rk <= 3),
       |$lpRoundsSql""".stripMargin

  /** q260: label propagation on IVF candidates — q257's SCALE PATH (the
    * q29→q30 / q238→q246 baseline-vs-scale-path contract): identical
    * propagation rounds, but the neighbor graph comes from q59's IVF
    * index (nprobe=2 cells, top-3 per vector) instead of the n² exact
    * scan, so candidate generation is the bucketed shuffle-on-cell join
    * that survives corpus scale. Hash-gated against the oracle's replay
    * of the FULL pipeline (IVF build + probe + rounds); the ×10
    * rehearsal pairs its ratio with q257's declared-quadratic row. */
  private def q260(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lpPropagate(s, dir)(pins => ivfRankedAndTop(s, dir, pins)._2
      .filter($"rk" <= 3).select($"vec_id", $"nn_vec"))
  }
  private val q260Sql =
    s"""$ivfCtes,
       |nn AS MATERIALIZED (SELECT vec_id, mid AS nn_vec FROM top WHERE rk <= 3),
       |$lpRoundsSql""".stripMargin

  private val gridRounds = 8

  /** q262: grid-density clustering (DBSCAN-lite) over the embedding's
    * first two dimensions — the density-based alternative to k-means
    * (q142): histogram points into 0.05-wide grid cells, keep DENSE cells
    * (≥ 5 points), and connect dense cells through their 8-neighborhood
    * into clusters via 8 rounds of min-label propagation. The data-sized
    * step is ONE grid histogram (a grouped count on the quantized key —
    * the shuffle shape that survives any corpus size); the cell graph is
    * grid-bounded and tiny, and its min-label rounds are the same
    * monotone integer relaxation as q250, truncated at a FIXED 8 rounds
    * replayed identically by the oracle (pre-convergence state is part of
    * the contract, so truncation cannot diverge). floor(x / 0.05) is one
    * IEEE double divide + floor — bit-identical across engines.
    *
    * The cell graph itself is GRID-bounded, not data-bounded: unit-range
    * embedding dims at 0.05 width give ≤ ~41×41 ≈ 1.7k cells whatever the
    * corpus size, so after the one data-sized histogram the dense-cell
    * table is collected (guarded at 100k cells) and the 8-neighborhood
    * edges + min-label rounds run on the driver — the q259
    * enum-bounded-state discipline. This replaced 8 distributed
    * shuffle-barrier rounds over a tiny frame (3.8 s of pure barrier cost
    * at sf0.1; ~0.6 s after) with arithmetic over ≤1.7k rows; the round
    * recurrence is replicated exactly, so labels (and the oracle hash)
    * are unchanged. */
  private def q262(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = Tables.embeddings(s, dir)
      .select($"embedding".cast("array<double>").as("v"))
      .select(floor($"v".getItem(0) / 0.05).as("cx"),
        floor($"v".getItem(1) / 0.05).as("cy"))
    val cells = pts.groupBy($"cx", $"cy").agg(count(lit(1)).as("n"))
      .filter($"n" >= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    require(cells.length <= 100000,
      s"q262: ${cells.length} dense cells exceed the grid bound — " +
        "widen the cell size or raise the density threshold")
    val cid = cells.map { case (cx, cy, _) =>
      ((cx, cy), (cx + 1000L) * 100000L + (cy + 1000L))
    }.toMap
    val ed = for {
      (cx, cy, _) <- cells
      dx <- -1 to 1; dy <- -1 to 1
      if dx != 0 || dy != 0
      dst <- cid.get((cx + dx, cy + dy))
    } yield (cid((cx, cy)), dst)
    val bySrc = ed.groupBy(_._1)
    var lab: Map[Long, Long] = cid.valuesIterator.map(c => c -> c).toMap
    for (_ <- 1 to gridRounds) {
      val next = scala.collection.mutable.HashMap.empty[Long, Long]
      lab.foreach { case (id, l) =>
        next.updateWith(id)(o => Some(math.min(l, o.getOrElse(l))))
        bySrc.getOrElse(id, Array.empty[(Long, Long)]).foreach { case (_, d) =>
          next.updateWith(d)(o => Some(math.min(l, o.getOrElse(l))))
        }
      }
      lab = next.toMap
    }
    cells.toSeq.map { case (cx, cy, n) =>
      val c = cid((cx, cy))
      (c, cx, cy, n, lab(c))
    }.toDF("cid", "cx", "cy", "n_points", "cluster_label")
      .orderBy($"cid")
  }
  private val q262Sql = {
    val rounds = (1 to gridRounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT id, min(lab) AS lab FROM (
         |  SELECT id, lab FROM l${i - 1}
         |  UNION ALL SELECT ed.dst, l${i - 1}.lab
         |  FROM l${i - 1} JOIN ed ON l${i - 1}.id = ed.src) q GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS (SELECT CAST(floor(v[1] / 0.05) AS BIGINT) AS cx,
       |    CAST(floor(v[2] / 0.05) AS BIGINT) AS cy
       |  FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings) e),
       |cells AS MATERIALIZED (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n,
       |    (cx + 1000) * 100000 + (cy + 1000) AS cid
       |  FROM pts GROUP BY 1, 2 HAVING count(*) >= 5),
       |off AS (SELECT dx.x AS dx, dy.x AS dy
       |  FROM (SELECT unnest([-1, 0, 1]) AS x) dx,
       |       (SELECT unnest([-1, 0, 1]) AS x) dy
       |  WHERE NOT (dx.x = 0 AND dy.x = 0)),
       |ed AS MATERIALIZED (SELECT a.cid AS src, b.cid AS dst
       |  FROM cells a JOIN off o ON true
       |  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy),
       |l0 AS (SELECT cid AS id, cid AS lab FROM cells),
       |$rounds
       |SELECT c.cid, c.cx, c.cy, c.n AS n_points, l.lab AS cluster_label
       |FROM cells c JOIN l$gridRounds l ON c.cid = l.id
       |ORDER BY cid""".stripMargin
  }

  private val mmrK = 5

  /** q281: maximal-marginal-relevance selection — the diverse top-k a
    * retrieval/sampling pipeline uses instead of plain top-k when near-
    * duplicate results waste the budget: greedily pick
    * argmax 0.7·rel(v) − 0.3·max_{s∈S} sim(v, s), k = 5 rounds, with
    * rel = cosine to the min-id query vector. Each round is one
    * candidates × selected similarity pass (|S| ≤ 4 vectors broadcast)
    * + a grouped max + a 1-row argmax — the q255 greedy-selection shape:
    * the driver sees one row per round, the data-sized side never
    * collects, and round cost is n·|S| dot products however large the
    * corpus. All similarities round at 9 dp before the argmax and ties
    * break on vec_id, so the greedy trajectory — not just the final set
    * — is pinned; the oracle replays all 5 rounds as unrolled CTEs with
    * the shared cosine kernel. */
  private def q281(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    // lazy pin: the qid argmin materializes the blocks in its own job
    val n = normed(s, dir).localCheckpoint(false)
    val qidRow = n.agg(min($"vec_id")).collect().head
    if (qidRow.isNullAt(0))   // empty corpus: empty result, not an NPE
      return Seq.empty[(Long, Long, Double, Double)]
        .toDF("rk", "vec_id", "rel9", "score9")
    val qid = qidRow.getLong(0)
    val rels = n.as("a").filter($"a.vec_id" === qid)
      .join(n.as("b"), $"b.vec_id" =!= qid)
      .select($"b.vec_id".as("vec_id"), round(cosSpark, 9).as("rel"))
      .localCheckpoint(true)
    var picks = List.empty[(Int, Long, Double, Double)]
    for (rk <- 1 to mmrK) {
      val selIds = picks.map(_._2)
      val row = if (selIds.isEmpty) {
        val r = rels.orderBy($"rel".desc, $"vec_id").limit(1).collect().head
        (rk, r.getLong(0), r.getDouble(1), r.getDouble(1))
      } else {
        val selVecs = broadcast(n.filter($"vec_id".isin(selIds: _*)))
        val r = n.as("a")
          .filter($"a.vec_id" =!= qid && !$"a.vec_id".isin(selIds: _*))
          .join(selVecs.as("b"))
          .select($"a.vec_id".as("vec_id"), round(cosSpark, 9).as("sim"))
          .groupBy($"vec_id").agg(max($"sim").as("ms"))
          .join(rels, "vec_id")
          .select($"vec_id", $"rel",
            round(lit(0.7) * $"rel" - lit(0.3) * $"ms", 9).as("score"))
          .orderBy($"score".desc, $"vec_id").limit(1).collect().head
        (rk, r.getLong(0), r.getDouble(1), r.getDouble(2))
      }
      picks = picks :+ row
    }
    picks.toDF("rk", "vec_id", "rel9", "score9")
      .select($"rk".cast("long").as("rk"), $"vec_id", $"rel9", $"score9")
      .orderBy($"rk")
  }
  private val q281Sql = {
    val cosAB = cosDuck
    val rounds = (2 to mmrK).map { i =>
      val selAll = (1 until i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
      s"""m$i AS (SELECT a.vec_id AS vec_id, max(round($cosAB, 9)) AS ms
         |  FROM n a JOIN n b ON b.vec_id IN ($selAll)
         |  WHERE a.vec_id <> (SELECT qid FROM q)
         |    AND a.vec_id NOT IN ($selAll)
         |  GROUP BY 1),
         |s$i AS MATERIALIZED (SELECT m.vec_id, r.rel,
         |    round(0.7 * r.rel - 0.3 * m.ms, 9) AS score
         |  FROM m$i m JOIN rels r USING (vec_id)
         |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to mmrK).map { i =>
      if (i == 1) s"SELECT CAST(1 AS BIGINT) AS rk, vec_id, rel AS rel9, rel AS score9 FROM s1"
      else s"SELECT CAST($i AS BIGINT), vec_id, rel, score FROM s$i"
    }.mkString(" UNION ALL ")
    s"""$normedSql,
       |q AS (SELECT min(vec_id) AS qid FROM n),
       |rels AS MATERIALIZED (SELECT b.vec_id AS vec_id,
       |    round($cosAB, 9) AS rel
       |  FROM n a JOIN n b ON a.vec_id = (SELECT qid FROM q)
       |    AND b.vec_id <> a.vec_id),
       |s1 AS MATERIALIZED (SELECT vec_id, rel FROM rels
       |  ORDER BY rel DESC, vec_id LIMIT 1),
       |$rounds
       |SELECT rk, vec_id, rel9, score9 FROM ($out) u ORDER BY rk""".stripMargin
  }

  /** q282: matryoshka truncation recall — "how much ranking do the first
    * 16 of 64 dimensions keep", the eval that decides whether truncated
    * (MRL-style) embeddings can serve first-stage retrieval: for every
    * ~157th query vector, exact top-5 by full-dimension cosine vs top-5
    * by 16-dim-prefix cosine (prefix norms, same kernel), recall =
    * overlap/5. Both rankings round at 9 dp with id tie-break (q29's
    * ulp discipline) so the compared sets are pinned; candidate
    * generation is the sampled-query × corpus pass whose cost is
    * |queries|·n, not n² — the recall-audit shape of q70/q93 applied to
    * the truncation axis. */
  private def q282(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val n = normed(s, dir)
      .withColumn("v16", slice($"v", 1, 16))
      .withColumn("nrm16", vector.norm($"v16"))
      .localCheckpoint(true)
    val qs = n.filter($"vec_id" % 157 === 0)
    def top5(simCol: Column) = qs.as("a")
      .join(n.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("qid"), $"b.vec_id".as("nn"),
        round(simCol, 9).as("sim"))
      .groupBy($"qid")
      .agg(aggregates.topKByScore($"sim", $"nn", 5).as("top"))
      .select($"qid", explode($"top.id").as("nn"))
    val full = top5(vector.dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm"))
    val trunc = top5(vector.dot($"a.v16", $"b.v16") / ($"a.nrm16" * $"b.nrm16"))
    full.join(trunc, Seq("qid", "nn"))
      .groupBy($"qid").agg(count(lit(1)).as("n_common"))
      .select($"qid", $"n_common",
        round($"n_common".cast("double") / 5.0, 6).as("recall6"))
      .orderBy($"qid")
  }
  private val q282Sql = {
    val cos16 =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(range(1, 17), i -> a.v[i] * b.v[i])), (x, y) -> x + y)
        |    / (a.nrm16 * b.nrm16)""".stripMargin
    s"""$normedSql,
       |n2 AS (SELECT vec_id, v, nrm,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v[1:16], x -> x * x)), (a, b) -> a + b)) AS nrm16
       |  FROM n),
       |qs AS (SELECT * FROM n2 WHERE vec_id % 157 = 0),
       |pf AS (SELECT a.vec_id AS qid, b.vec_id AS nn,
       |    round($cosDuck, 9) AS sim
       |  FROM qs a JOIN n2 b ON a.vec_id <> b.vec_id),
       |rf AS (SELECT qid, nn, row_number() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, nn) AS rk FROM pf),
       |pt AS (SELECT a.vec_id AS qid, b.vec_id AS nn,
       |    round($cos16, 9) AS sim
       |  FROM qs a JOIN n2 b ON a.vec_id <> b.vec_id),
       |rt AS (SELECT qid, nn, row_number() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, nn) AS rk FROM pt)
       |SELECT rf.qid, CAST(count(*) AS BIGINT) AS n_common,
       |  round(CAST(count(*) AS DOUBLE) / 5.0, 6) AS recall6
       |FROM rf JOIN rt ON rf.qid = rt.qid AND rf.nn = rt.nn
       |WHERE rf.rk <= 5 AND rt.rk <= 5
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q300: Johnson–Lindenstrauss SIGN random projection — 64-dim
    * embeddings compressed to 16 dims through a deterministic ±1 matrix
    * (Achlioptas 2003: sign entries preserve pairwise distances in
    * expectation with the same JL guarantee as Gaussians, and cost only
    * adds/subtracts), the standard first-stage compression in front of
    * ANN / dedup stacks (complementing q282's matryoshka TRUNCATION —
    * this is the projection alternative when embeddings were not trained
    * nested). Everything is exact integer: components quantized on the
    * 1e-6 lattice (q256's idiom), the sign s(j,k) drawn from bit 11 of a
    * Knuth multiplicative hash of the (output-dim, input-dim) cell — pure
    * BIGINT arithmetic both engines replay literally — and the projection
    * a Σ±qv sum, so the gate hashes with zero float tolerance. Each row
    * also carries the measured norm distortion ‖Pv‖²/(m·‖v‖²) in ppm
    * (floor arithmetic, overflow-safe divisor-first ordering), the
    * quantity JL bounds — the audit a production rollout would monitor.
    * Scale shape: a per-row map (no shuffle, no state, no broadcast);
    * the gate samples every 37th vector only to bound output size. The
    * m·d ±1 kernel is the native [[org.apache.spark.sql.graft.JlSignProject]]
    * expression — one constant-size tree node whose generated code is two
    * tight primitive loops returning (p, Σqv², Σp²) in a single pass.
    * (First cut: nested `transform`/`aggregate` lambdas — CodegenFallback,
    * 2.8 s at sf0.1. Second cut: a plan-time-unrolled 1024-term column
    * chain — codegen'd, but the 3 MiB serialized task binary cost ~1.5 s
    * of per-execution broadcast; the native node removes both.) */
  private def q300(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = 64; val m = 16
    s.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" % 37 === 0)
      .select($"vec_id", expr(
        "transform(cast(embedding as array<double>), x -> " +
          "cast(round(x * 1000000) as bigint))").as("qv"))
      .select($"vec_id",
        org.apache.spark.sql.graft.vector.jlSignProject($"qv", m, d).as("s"))
      .select($"vec_id", $"s.n2".as("n2"), $"s.pn2".as("pn2"),
        posexplode($"s.p").as(Seq("j", "proj_scaled")))
      .select($"vec_id", $"j".cast("long").as("j"), $"proj_scaled",
        expr(s"CASE WHEN ($m * n2) div 1000000 > 0 " +
          s"THEN pn2 div (($m * n2) div 1000000) ELSE 0 END")
          .as("distortion_ppm"))
      .orderBy($"vec_id", $"j")
  }
  private val q300Sql =
    """WITH e AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id % 37 = 0),
      |jj AS (SELECT unnest(generate_series(0, 15)) AS j),
      |kk AS (SELECT unnest(generate_series(0, 63)) AS k),
      |sg AS (SELECT j, k,
      |    CASE WHEN (((j * 64 + k + 1) * 2654435761) % 4294967296)
      |      // 2048 % 2 = 0 THEN 1 ELSE -1 END AS s
      |  FROM jj, kk),
      |pr AS (SELECT e.vec_id, sg.j,
      |    CAST(sum(e.qv[sg.k + 1] * sg.s) AS BIGINT) AS proj_scaled
      |  FROM e, sg GROUP BY 1, 2),
      |n2 AS (SELECT vec_id, list_reduce(list_transform(qv, x -> x * x),
      |    (a, b) -> a + b) AS n2 FROM e),
      |pn AS (SELECT vec_id,
      |    CAST(sum(proj_scaled * proj_scaled) AS BIGINT) AS pn2
      |  FROM pr GROUP BY 1)
      |SELECT pr.vec_id, CAST(pr.j AS BIGINT) AS j, pr.proj_scaled,
      |  CASE WHEN (16 * n2.n2) // 1000000 > 0
      |    THEN CAST(pn.pn2 // ((16 * n2.n2) // 1000000) AS BIGINT)
      |    ELSE 0 END AS distortion_ppm
      |FROM pr JOIN n2 ON pr.vec_id = n2.vec_id
      |JOIN pn ON pr.vec_id = pn.vec_id
      |ORDER BY pr.vec_id, j""".stripMargin

  /** q351: SQ8 SCALAR QUANTIZATION — the FAISS-style 8-bit codec every
    * memory-bound vector index ships before PQ (q93 gates PQ; this gates
    * its simpler, reconstruction-friendlier sibling): per-dimension
    * min/max calibration over the corpus, code = ⌊(v − min)·255 /
    * (max − min)⌋ ∈ [0, 255], and the dequantized reconstruction error
    * |v − (min + (code + ½)·(max − min)/255)|. Cross-engine exactness:
    * min/max are SELECTIONS (no arithmetic); the code and the per-cell
    * error are single-expression double arithmetic written with the
    * IDENTICAL association on both engines — IEEE-754 +,−,×,/ are
    * bit-exact deterministic per row (the repo-wide rule: per-row double
    * math is safe, ACCUMULATED double math is not) — and the error is
    * truncated to integer µ-units PER CELL (floor(err·10⁶) on the
    * bit-identical per-row double) before summing, so the per-vector
    * sums are integer-exact and order-free. Output per vector: Σcode,
    * the position-weighted Σcode·i (pins every code, not just the
    * multiset), and the summed µ-truncated reconstruction error.
    *
    * Scale shape: the calibration model is a 64-row aggregate
    * (map-side-combinable min/max) broadcast back onto the cell stream;
    * coding + error are map-only; the per-vector roll-up is one
    * combinable shuffle on vec_id. No collect, no window. */
  private def q351(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.embeddings(s, dir)
      .select($"vec_id", posexplode($"embedding".cast("array<double>"))
        .as(Seq("i0", "v")))
      .select($"vec_id", ($"i0" + 1).as("i"), $"v")
    val stats = cells.groupBy($"i")
      .agg(min($"v").as("mn"), max($"v").as("mx"))
      .withColumnRenamed("i", "si")
    cells.join(broadcast(stats), $"i" === $"si")
      .withColumn("code", when($"mx" === $"mn", lit(0L))
        .otherwise(floor(($"v" - $"mn") * 255d / ($"mx" - $"mn"))))
      .withColumn("err_u", floor(abs($"v" -
          ($"mn" + ($"code" + 0.5d) * ($"mx" - $"mn") / 255d)) * 1000000d)
        .cast("long"))
      .groupBy($"vec_id")
      .agg(sum($"code").as("code_sum"),
        sum($"code" * $"i").as("code_wsum"),
        sum($"err_u").as("err_micro"))
      .orderBy($"vec_id")
  }
  private val q351Sql =
    """WITH cells AS (SELECT vec_id, t.i AS i,
      |    CAST(embedding[t.i] AS DOUBLE) AS v
      |  FROM embeddings, UNNEST(range(1, 65)) AS t(i)),
      |stats AS (SELECT i AS si, min(v) AS mn, max(v) AS mx
      |  FROM cells GROUP BY 1),
      |coded AS (SELECT c.vec_id, c.i, c.v, s.mn, s.mx,
      |    CASE WHEN s.mx = s.mn THEN 0
      |      ELSE CAST(floor((c.v - s.mn) * 255 / (s.mx - s.mn)) AS BIGINT)
      |    END AS code
      |  FROM cells c JOIN stats s ON c.i = s.si),
      |errs AS (SELECT vec_id, i, code,
      |    CAST(floor(abs(v - (mn + (code + 0.5) * (mx - mn) / 255))
      |      * 1000000) AS BIGINT) AS err_u
      |  FROM coded)
      |SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
      |  CAST(sum(code * i) AS BIGINT) AS code_wsum,
      |  CAST(sum(err_u) AS BIGINT) AS err_micro
      |FROM errs GROUP BY 1 ORDER BY vec_id""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q351_sq8_quantize", q351, Some(q351Sql)),
    QueryDef("q281_mmr_select", q281, Some(q281Sql)),
    QueryDef("q282_matryoshka_recall", q282, Some(q282Sql)),
    QueryDef("q300_jl_projection", q300, Some(q300Sql)),
    QueryDef("q316_hard_negatives", q316, Some(q316Sql)),
    QueryDef("q322_embedding_isolates", q322, Some(q322Sql)),
    QueryDef("q256_pca_power", q256, Some(q256Sql)),
    QueryDef("q262_grid_density_clusters", q262, Some(q262Sql)),
    QueryDef("q257_label_propagation", q257, Some(q257Sql)),
    QueryDef("q260_label_prop_ivf", q260, Some(q260Sql)),
    QueryDef("q29_knn_cosine", q29, Some(q29Sql)),
    QueryDef("q215_mutual_nn", q215, Some(q215Sql)),
    QueryDef("q30_ann_lsh_bucketed", q30, Some(q30Sql)),
    QueryDef("q31_cosine_neardup", q31, Some(q31Sql)),
    QueryDef("q59_ann_ivf", q59, Some(q59Sql)),
    QueryDef("q70_ivf_recall", q70, Some(q70Sql)),
    QueryDef("q93_pq_adc_recall", q93, Some(q93Sql)),
  )
}
