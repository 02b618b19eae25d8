package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators: not analysis queries but the
  * `DataFrame => DataFrame` transformations a training-data pipeline runs —
  * each returns the deduplicated corpus with a deterministic canonical
  * survivor (min id) per duplicate group.
  *
  * Scale shapes: exact dedup is one hash shuffle on the content hash;
  * near-dup finds candidate PAIRS sub-quadratically (banded LSH — only
  * documents agreeing on a band signature ever meet), then resolves groups
  * with distributed min-id label propagation over the pair graph. Nothing
  * is collected to the driver at any stage, so every path here survives a
  * pair list (or corpus) far bigger than one machine.
  */
object Dedup {

  /** Default per-bucket member cap for the LSH candidate generators: a
    * bucket of n members emits n(n-1)/2 pairs, so 100k members is already
    * a 5e9-pair single-bucket join task — far past any healthy corpus
    * (real buckets hold a handful of near-dups) and a reliable signature
    * of degenerate input (mass-identical documents). */
  val DefaultMaxBucket: Int = 100000

  /** Skew guard for the banded candidate joins: ZERO rows on a healthy
    * corpus, and any (band, signature) bucket with more than `cap`
    * members fails the job LOUDLY with the offending bucket named —
    * instead of one straggler task quietly going quadratic. Implemented
    * as an error stream unioned into the pair output, so the check rides
    * the same job (no extra action) and its aggregate shuffles on the
    * same keys as the candidate join (exchange-reusable). Splitting the
    * bucket is deliberately NOT offered: salting would silently drop
    * cross-salt candidate pairs, and star-collapsing changes band-count/
    * verification semantics — a degenerate corpus needs exact-dup
    * collapse first, not a quietly lossy guess. */
  private def hotBucketGuard(banded: DataFrame, keys: Seq[String], cap: Int,
                             what: String,
                             out: org.apache.spark.sql.types.StructType): DataFrame = {
    import banded.sparkSession.implicits._
    val msg = concat(
      lit(s"$what: LSH bucket over cap=$cap: ("),
      concat_ws(", ", keys.map(col): _*), lit(") has "),
      $"__n".cast("string"),
      lit(" members - a degenerate (near-identical) corpus makes this " +
        "bucket quadratic; collapse exact duplicates first, coarsen the " +
        "banding, or raise maxBucket"))
    banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter($"__n" > cap)
      // the raise lives in a FILTER, not a projected column: an unused
      // projection is legal to prune (and count()-only consumers would
      // silently lose the guard), but a non-foldable filter condition
      // always evaluates — any row reaching it throws
      .filter(coalesce(raise_error(msg).cast("boolean"), lit(true)))
      .select(out.fields.toIndexedSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name)): _*)
  }

  /** Exact dedup on a content hash; survivor = min of `idCol`. */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val h = md5(concat_ws(" ", contentCols.map(col): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(h).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Connected components of an undirected edge list, as (`__id`, `__lbl`)
    * where `__lbl` is the component's minimum id.
    *
    * Iterative min-id label propagation with pointer jumping: each round
    * every node takes the minimum of its own label, its neighbors' labels,
    * and its current label's label (the shortcut that makes a length-d
    * chain resolve in O(log d) rounds instead of O(d)). Near-dup groups
    * are dense (duplicates of one source all pair with each other), so a
    * handful of rounds is typical even on chain-shaped graphs. Per round:
    * one equi-join (neighbor and jump probes unioned into a single lookup
    * against the label table) + one partial aggregate, then a lazy
    * `localCheckpoint` whose convergence count drives the same job (one
    * barrier per round); checkpointing truncates the lineage so round N
    * does not replay rounds 1..N-1. Only ids touched by an edge appear in
    * the output (isolated nodes are their own trivial component).
    *
    * Capped at `maxIters` rounds as a runaway guard. Hitting the cap
    * before convergence throws rather than silently under-merging: a
    * partially-propagated labeling looks exactly like a valid one, so a
    * silent cap would corrupt dedup output (and any oracle comparison)
    * invisibly. Real near-dup graphs converge in 2–4 rounds; a 50-round
    * diameter means the input is not a dedup pair graph.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // localCheckpoint persists an RDD per round; without explicit cleanup
    // every superseded round's labels stay pinned in the block manager
    // until a driver GC, competing with the job for memory at exactly the
    // corpus sizes this loop exists for. Ownership is identified by
    // walking the checkpointed frame's own RDD lineage to its persisted
    // ancestors — never by diffing global persistent-RDD state, which
    // would race with concurrent jobs and free THEIR checkpoints.
    def tracked(df: DataFrame, eager: Boolean = true): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val out = df.localCheckpoint(eager)
      def persisted(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
        if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Seq(r)
        else r.dependencies.flatMap(d => persisted(d.rdd))
      (out, persisted(out.queryExecution.toRdd).distinct)
    }
    def free(rdds: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
      rdds.foreach(_.unpersist(blocking = false))

    // materialize the pair list once BEFORE symmetrizing: both branches
    // of the union would otherwise recompute the caller's candidate
    // pipeline (banded joins, signature aggs) in full. The symmetric view
    // itself stays lazy — a union of the checkpointed blocks with their
    // column swap is a narrow re-read, not worth a second materialization.
    val (p0, edgeIds) = tracked(
      pairs.select(col(aCol).as("__src"), col(bCol).as("__dst")))
    val edges = p0.union(p0.select($"__dst".as("__src"), $"__src".as("__dst")))
    // round 0 fused into initialization: label(v) = min(v, min neighbor)
    // is one groupBy over the symmetric edge list — no join, and it both
    // enumerates the node set and completes the first propagation round
    var (labels, labelIds) = tracked(
      edges.groupBy($"__src").agg(min($"__dst").as("__m"))
        .select($"__src".as("__id"), least($"__src", $"__m").as("__lbl")))
    // One propagation layer over (__id, __lbl, __prev): each node takes the
    // minimum of its own label, its neighbors' labels, and — pointer
    // jumping — its label's own label. The jump branch is what makes
    // convergence O(log diameter) instead of O(diameter): a node's reach
    // doubles each layer by adopting whatever its current representative
    // has already learned. Both invariants that make the shortcut safe
    // hold inductively: every label IS a node id of the same component
    // (so the jump join always finds a row and never crosses components),
    // and lbl(u) <= u (so jumping only ever lowers a label, never raises
    // it). __prev (the label at round entry) rides the __own-tagged union
    // branch untouched, so after stacking layers the round compares
    // first-to-last: labels only decrease, hence __lbl < __prev iff ANY
    // stacked layer changed this node.
    def layer(cur: DataFrame): DataFrame = {
      val lab = cur.select($"__id", $"__lbl")
      val nullPrev = lit(null).cast(cur.schema("__prev").dataType)
      // Both branches are lookups INTO the label table — "what is the
      // label of my neighbor" (probe key: edge destination) and "what is
      // the label of my label" (probe key: own label). Unioning the probe
      // relations BEFORE the lookup means a layer pays ONE equi-join
      // instead of two; on an iterative operator every avoided exchange
      // is paid back once per round, and round count x stage latency is
      // exactly what dominates the loop (locally as AQE re-planning
      // pauses, on a cluster as scheduler barriers).
      val probes = edges.select($"__dst".as("__k"), $"__src".as("__nid"))
        .union(lab.select($"__lbl".as("__k"), $"__id".as("__nid")))
      val hits = probes
        .join(lab.select($"__id".as("__lk"), $"__lbl"), $"__k" === $"__lk")
        .select($"__nid", $"__lbl", nullPrev.as("__prev"),
          lit(false).as("__own"))
      cur.select($"__id".as("__nid"), $"__lbl", $"__prev", lit(true).as("__own"))
        .union(hits)
        .groupBy($"__nid")
        .agg(min($"__lbl").as("__lbl"),
          min(when($"__own", $"__prev")).as("__prev"))
        .select($"__nid".as("__id"), $"__lbl", $"__prev")
    }
    var converged = false
    var iter = 1 // initialization already performed round 1
    while (!converged && iter < maxIters) {
      // ONE propagation layer per materialized round. Stacking layers
      // between barriers was measured and REJECTED: each layer references
      // its input three times (own/probe/lookup), so an L-layer stack
      // grows the unanalyzed plan ~3^L-fold and analysis+AQE planning
      // cost eats the saved barrier several times over (2 layers: +40%
      // wall, 4 layers: +2x on the gated graphs). Convergence detection
      // is plain column comparison on the label's own type: it works
      // identically for long, string (UUID), or any orderable id type,
      // where a numeric cast would turn string labels into NULLs and
      // declare convergence after one round (silent under-merge).
      // A jump-only contraction appended to each round (lbl := lbl(lbl) on
      // the layer's output, one extra labels-sized equi-join) was also
      // measured and REJECTED: rounds dropped only ~15-20% (the gated
      // graphs' slow tails are bushy, not pure chains, so the in-layer
      // pointer jump already captures most of the shortcutting) while
      // per-round cost rose ~40% — q67 4.7->5.0 s, q69 4.8->5.6 s warm.
      val stacked = layer(labels.withColumn("__prev", $"__lbl"))
      val (next, nextIds) = tracked(
        stacked.select($"__id", $"__lbl",
          // every __nid has exactly one __own row, so __prev is only
          // null for a node absent from `labels` — impossible here, but
          // count it as changed rather than converged if it ever happens
          coalesce(($"__lbl" < $"__prev").cast("long"), lit(1L)).as("__chg")),
        eager = false)
      // lazy checkpoint: this one aggregate job BOTH materializes the
      // round's labels into the block manager AND returns the changed
      // count — one job per round, not materialize + re-scan
      val changed = next.agg(coalesce(sum($"__chg"), lit(0L)))
        .collect()(0).getLong(0)
      converged = changed == 0L
      free(labelIds)
      labels = next
      labelIds = nextIds
      iter += 1
    }
    free(edgeIds) // frees p0 — the returned frame depends only on the final checkpoint
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds; raise " +
          "maxIters — returning would silently under-merge components")
    labels.select($"__id", $"__lbl")
  }

  /** Merge NEW similarity pairs into an EXISTING component labeling
    * without re-deriving the historical pair graph. The prior labeling is
    * itself an edge list (id — lbl), and contracting a graph preserves
    * both its components and their minimum ids, so components over
    * (labels ∪ newPairs) equal components over (oldPairs ∪ newPairs).
    *
    * This is the daily-batch form of dedup at scale: candidate pairs are
    * mined for the NEW documents only (new×new plus new×old via the band
    * index), and group resolution pays |state| + |batch| — never a rescan
    * of the historical pair graph. The old graph arrives pre-contracted
    * (star-shaped, diameter ≤ 2), so the loop converges in about as many
    * rounds as the batch's own structure needs, regardless of how deep
    * the historical chains once were. Self-pairs from singleton state
    * rows are kept so previously-seen isolated ids stay in the output. */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
                            aCol: String, bCol: String,
                            maxIters: Int = 50): DataFrame = {
    val stateEdges = labels.select(col("__id").as(aCol), col("__lbl").as(bCol))
    connectedComponents(
      stateEdges.unionByName(newPairs.select(col(aCol), col(bCol))),
      aCol, bCol, maxIters)
  }

  /** Ids to drop (everything but the min-id survivor of each component). */
  private def dupIds(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    import pairs.sparkSession.implicits._
    connectedComponents(pairs, aCol, bCol)
      .filter($"__lbl" < $"__id")
      .select($"__id".as("__dup"))
  }

  /** Near-dup dedup via MinHash+LSH over word shingles of `textCol`.
    *
    * Candidate pairs: documents sharing >= `minBands` of `bands` salted
    * min-hash band signatures over `shingleLen`-gram shingles. Groups are
    * the connected components of the candidate-pair graph; each group
    * keeps its min-id row. Fully distributed: banded candidate join, then
    * label propagation — no driver-side pair list.
    */
  def nearMinhash(df: DataFrame, idCol: String, textCol: String,
                  shingleLen: Int = 3, bands: Int = 8, minBands: Int = 2,
                  maxBucket: Int = DefaultMaxBucket): DataFrame =
    df.join(dupIds(minhashPairs(df, idCol, textCol, shingleLen, bands, minBands,
      maxBucket), "ida", "idb"), col(idCol) === col("__dup"), "left_anti")

  /** The candidate-pair miner behind [[nearMinhash]], exposed so survivor
    * policies other than min-id (see [[survivorsBy]]) can reuse the exact
    * same edge definition. Returns (`ida`, `idb`) with `ida < idb`. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int = 3, bands: Int = 8, minBands: Int = 2,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    // distinct word shingles via the native WordShingles expression (the
    // HOF transform/concat_ws formulation evaluates interpreted and
    // dominated the pipeline) — same shingle set as queries that gate it
    val sh = df
      .select(col(idCol).as("__id"), split(col(textCol), " ").as("__toks"))
      .filter(size($"__toks") >= shingleLen)
      .select($"__id",
        explode(graft.functions.text.shingles($"__toks", shingleLen)).as("__shingle"))

    // one md5 per shingle; band hashes are overlapping digest windows
    // (see queries.TextDedupQueries q27 — full recall at 8x fewer
    // digests). The per-band minima aggregate as WIDE columns in ONE
    // grouped pass — no bands-x row explosion through the shuffle — and
    // stack to (band, mh) rows only on the one-row-per-doc output.
    val hashed = sh.select($"__id", md5($"__shingle").as("__hx"))
    val mins = (0 until bands).map(b =>
      min(substring($"__hx", b * 2 + 1, 16)).as(s"__w$b"))
    // lazily pinned: the signature pipeline (shingle explode + md5 + wide
    // minima) is the expensive stage, and it now has TWO consumers — the
    // banded self-join (whose two sides already collapse into one
    // exchange) and the hot-bucket guard aggregate, whose partial-agg
    // child defeats exchange reuse. Without the pin the guard re-ran the
    // whole pipeline (q68 3.5 -> 5.7 s); with it, one materialization
    val sig = hashed.groupBy($"__id")
      .agg(mins.head, mins.tail: _*)
      .select($"__id", posexplode(array((0 until bands).map(b =>
        col(s"__w$b")): _*)).as(Seq("__band", "__mh")))
      .localCheckpoint(false)

    val pairs = sig.as("a").join(sig.as("b").hint("shuffle_hash"),
        $"a.__band" === $"b.__band" && $"a.__mh" === $"b.__mh" &&
          $"a.__id" < $"b.__id")
      .groupBy($"a.__id".as("ida"), $"b.__id".as("idb"))
      .agg(count(lit(1)).as("nb"))
      .filter($"nb" >= minBands)
      .select($"ida", $"idb")
    pairs.unionByName(
      hotBucketGuard(sig, Seq("__band", "__mh"), maxBucket,
        "Dedup.minhashPairs", pairs.schema))
  }

  /** Dedup with an explicit survivor policy: per connected group of
    * `pairs`, keep the row MAXIMIZING `rank` (min id breaks ties) instead
    * of the min-id row — "keep the longest / highest-quality copy", the
    * survivor rule production corpus dedup actually wants. Unpaired rows
    * pass through untouched. One left join to attach labels plus one
    * window over the (bounded-size) groups; the heavy lifting is the same
    * label propagation every other dedup path uses. */
  def survivorsBy(df: DataFrame, idCol: String, pairs: DataFrame,
                  aCol: String, bCol: String, rank: Column): DataFrame = {
    import df.sparkSession.implicits._
    val labels = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("__id", "__cid")
    val joined = df.join(labels, col(idCol) === $"__cid", "left")
      .withColumn("__grp", coalesce($"__lbl", col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"__grp").orderBy(rank.desc, col(idCol))
    joined.withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1)
      .drop("__cid", "__lbl", "__grp", "__rn")
  }

  /** Scale-safe sign-bit band width for [[nearCosine]]: a FIXED bandBits
    * means a fixed 2^bandBits buckets per band, so random-vector bucket
    * occupancy grows with n and the candidate stream is asymptotically
    * QUADRATIC whatever the constant (measured in the round-6 rehearsal:
    * 16x4 banding emits ~n²/20 candidates — 2.0M at n=2k, 200M at n=20k).
    * Growing the width like log2(n/targetBucket) pins expected occupancy
    * at ~targetBucket, making the candidate stream O(n·bands·targetBucket)
    * while true near-dups (sign-agreement probability → 1) still collide.
    * Callers at corpus scale should pass `bandBits = cosineBandBits(n)`;
    * the 16x4 default is the gate-pinned small-corpus recall setting. */
  def cosineBandBits(n: Long, targetBucket: Int = 16): Int = {
    require(n > 0 && targetBucket > 0)
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, n / targetBucket))
    math.max(4, math.min(24, needed))
  }

  /** Near-dup dedup on embedding cosine >= `threshold`; same group/survivor
    * semantics.
    *
    * Candidate generation is banded sign-bit LSH (the q30 bucketer,
    * band-ized): band `b`'s signature is the sign pattern of dims
    * [b·bandBits, (b+1)·bandBits); vectors meet iff they agree on at least
    * one full band, then the EXACT cosine decides. Recall for a pair at
    * angle θ is 1-(1-(1-θ/π)^bandBits)^bands — with the 16×4 default and
    * 64-dim vectors: ≈0.94 at cos 0.4, ≈1 at cos ≥ 0.8 (the dedup regime).
    * Raise `bandBits` (fewer, bigger bands) for selectivity at corpus
    * scale; the shape — shuffle on (band, signature), never all-pairs —
    * is what survives 100×. Dims beyond bands·bandBits don't contribute to
    * bucketing (cosine still uses them); vectors shorter than bands·bandBits
    * hash their missing dims as sign-0 (vector.signBits bounds-checks, so
    * short vectors never throw under ANSI mode).
    */
  def nearCosine(df: DataFrame, idCol: String, vecCol: String,
                 threshold: Double, bands: Int = 16, bandBits: Int = 4,
                 maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__nrm", graft.functions.vector.norm($"__v"))
    val sigs = array((0 until bands).map { b =>
      graft.functions.vector.signBits($"__v", b * bandBits, bandBits)
    }: _*)
    // Candidate generation runs on ID-ONLY rows: the banded self-join
    // never sees an array payload (the payload-through-the-shuffle
    // variant measured 3x slower end to end). Vectors re-attach by two id
    // equi-joins against the (far smaller) vector table — Catalyst
    // broadcasts it when its stats allow, and degrades to an id-key
    // shuffle join at corpus scale — and the exact cosine + threshold
    // evaluate map-side on the attached rows.
    // Threshold on the 6-dp ROUNDED cosine — the module-wide policy
    // (see queries.VectorQueries): a boundary decision can then never
    // hinge on a final ulp, so it is reproducible across engines,
    // partitionings, and cluster sizes.
    // A pair agreeing on several bands appears once per band and is NOT
    // deduplicated up front: a pre-filter dropDuplicates would shuffle the
    // full candidate stream (measured the dominant cost of the whole API
    // — the duplicate factor is bounded by `bands` and near 1 in
    // practice, so the dedup pays a full-stream shuffle to save a few
    // map-side cosine re-evaluations). Instead duplicates ride through
    // the map-side cosine (deterministic, identical result per copy) and
    // collapse AFTER the threshold filter, when only actual near-dups
    // remain.
    val banded = base.select($"__id", posexplode(sigs).as(Seq("__band", "__sig")))
    val cand = banded.as("a").join(banded.as("b").hint("shuffle_hash"),
        $"a.__band" === $"b.__band" && $"a.__sig" === $"b.__sig" &&
          $"a.__id" < $"b.__id")
      .select($"a.__id".as("ida"), $"b.__id".as("idb"))
    val pairs = cand
      .join(base.select($"__id".as("ida"), $"__v".as("va"), $"__nrm".as("na")), "ida")
      .join(base.select($"__id".as("idb"), $"__v".as("vb"), $"__nrm".as("nb")), "idb")
      .filter(round(graft.functions.vector.dot($"va", $"vb") /
        ($"na" * $"nb"), 6) >= threshold)
      .select($"ida", $"idb")
      .dropDuplicates("ida", "idb")
      .unionByName(hotBucketGuard(banded, Seq("__band", "__sig"), maxBucket,
        "Dedup.nearCosine", new org.apache.spark.sql.types.StructType()
          .add("ida", base.schema("__id").dataType)
          .add("idb", base.schema("__id").dataType)))

    df.join(dupIds(pairs, "ida", "idb"), col(idCol) === col("__dup"), "left_anti")
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * k-means clusters bound the candidate space, then a row is dropped
    * when a SMALLER-id member of its own cluster has cosine >=
    * `threshold` with it. Returns the surviving rows of `df` with their
    * cluster id appended as `__cluster`.
    *
    * The survivor rule is an anti-join, not the paper's sequential greedy
    * scan: "keep x iff no kept-or-dropped y < x is near x" is a pure
    * per-pair predicate, so the result is independent of evaluation
    * order, partitioning, and engine (it can drop slightly more than the
    * greedy rule on chains a~b~c, never fewer).
    *
    * Scale shape: pairwise comparison shuffles on the cluster id only, so
    * cost is sum(|cluster|^2) — callers should grow `k` with the corpus
    * (the paper uses k ~ sqrt(n)) to keep clusters bounded; the gate-size
    * oracle-replayable form of this chain is queries q142/q151. Unlike
    * [[nearCosine]]'s sign-bit bands, cells here are LEARNED, so recall
    * concentrates near-duplicates into the same cell by construction. */
  def semantic(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, k: Int, iters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val model = graft.ml.KMeans.fit(df, idCol, vecCol, k, iters)
    val base = df
      .withColumn("__v", col(vecCol).cast("array<double>"))
      .withColumn("__nrm", graft.functions.vector.norm($"__v"))
      .withColumn("__cluster", model.assignCol(col(vecCol)))
    val a = base.select($"__cluster", col(idCol).as("__ida"),
      $"__v".as("__va"), $"__nrm".as("__na"))
    val b = base.select($"__cluster", col(idCol).as("__idb"),
      $"__v".as("__vb"), $"__nrm".as("__nb"))
    val cos = graft.functions.vector.dot($"__va", $"__vb") / ($"__na" * $"__nb")
    val dropped = a.join(b.hint("shuffle_hash"), Seq("__cluster"))
      .where($"__ida" < $"__idb" && round(cos, 6) >= threshold)
      .select($"__idb".as(idCol)).distinct()
    base.join(dropped, Seq(idCol), "left_anti").drop("__v", "__nrm")
  }
}
