package graft.queries

import graft.{Pins, QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation operators a training-data pipeline runs between "raw
  * documents" and "training shards": deterministic train/test splitting,
  * TF-IDF term scoring, fixed-window chunking with overlap, and benchmark
  * decontamination. All hashing is md5-based so results are identical
  * across engines, cluster sizes, and reruns — a split that changes when
  * the cluster resizes poisons every downstream eval.
  *
  * Scale notes: splitting and chunking are pure per-row projections (no
  * shuffle); TF-IDF shuffles on (doc, term) then term; decontamination
  * joins on the 8-gram key — the same bounded-bucket shuffle shape as the
  * q26/q27 near-dup family, never corpus x benchmark pairs.
  */
object CurationQueries extends QueryModule {

  /** First 4 md5 hex digits of the doc id as an integer in [0, 65536) —
    * the deterministic bucket every split/sample decision derives from. */
  def hashBucket(idCol: String) =
    conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10).cast("long")

  /** The q60 split assignment as a reusable column — a pure function of
    * the id, so batch and streaming (StreamingOps.routeBySplit) route any
    * given document identically, forever. */
  def splitColumn(idCol: String, evalPct: Int = 10): org.apache.spark.sql.Column =
    when(hashBucket(idCol) % 100 < evalPct, lit("eval")).otherwise(lit("train"))

  /** Same value in DuckDB via digit arithmetic (no hex-cast builtin). */
  def duckBucket(idExpr: String) = {
    def digit(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), $i, 1)) - 1)"
    s"(${digit(1)} * 4096 + ${digit(2)} * 256 + ${digit(3)} * 16 + ${digit(4)})"
  }

  /** q60: deterministic hash split — 10% eval / 90% train by md5 bucket of
    * the doc id. Per-split corpus stats verify the assignment end to end.
    * Pure projection + tiny agg: embarrassingly parallel at any scale, and
    * the assignment is a function of the id alone (stable under resharding,
    * re-ingest, and cluster size). */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("split", splitColumn("doc_id"))
      .withColumn("n_toks", size(split($"text", " ")).cast("long"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("sum_toks"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .orderBy($"split")
  }
  private def q60Sql =
    s"""SELECT CASE WHEN ${duckBucket("doc_id")} % 100 < 10
      |    THEN 'eval' ELSE 'train' END AS split,
      |  count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_toks,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  /** q61: TF-IDF top-5 terms per document — tf(doc, term) x ln(N/df),
    * rounded to 6 dp before ranking so ordering never hinges on a final
    * ulp of the two engines' ln. Shuffles: (doc, term) tf agg, term df
    * agg, a term-key join, and the per-doc top-5 via the bounded
    * TopKScoreStr aggregate (5 rows/doc cross the exchange, not the full
    * term stream). The corpus
    * count N joins onto the (small) vocabulary via a data-derived
    * constant key — an equi-join the planner hashes, not a nested loop. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      .withColumn("one", pmod($"n_docs", lit(1L)))
    val idf = df.withColumn("one", pmod($"df", lit(1L)))
      .join(broadcast(n), "one")
      .select($"tok", round(log($"n_docs".cast("double") / $"df"), 6).as("idf"))
    // top-5 via the bounded string-id aggregate: the window form would
    // shuffle and sort every (doc, term) row; this carries 5 rows per doc
    tf.join(idf, "tok")
      .select($"doc_id", $"tok", round($"tf" * $"idf", 6).as("score"))
      .groupBy($"doc_id")
      .agg(graft.functions.aggregates.topKByScoreStr($"score", $"tok", 5).as("top"))
      .select($"doc_id", posexplode($"top").as(Seq("rk0", "t")))
      .select($"doc_id", ($"rk0" + 1).as("rk"),
        $"t.id".as("term"), $"t.score".as("score"))
      .orderBy($"doc_id", $"rk")
  }
  private val q61Sql =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |idf AS (SELECT tok,
      |    round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df), 6) AS idf
      |  FROM df),
      |scored AS (SELECT tf.doc_id, tf.tok, round(tf.tf * idf.idf, 6) AS score
      |  FROM tf JOIN idf ON tf.tok = idf.tok),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, tok) AS rk FROM scored)
      |SELECT doc_id, rk, tok AS term, score FROM rk WHERE rk <= 5
      |ORDER BY doc_id, rk""".stripMargin

  /** q62: fixed-window chunking — 100-token chunks, stride 80 (20-token
    * overlap), keeping a chunk only when it adds new tokens (start 1, or
    * at least 20 tokens remain past the previous chunk's coverage). A
    * chunk is identified by its content md5 so the check proves byte-equal
    * chunk text across engines. Pure per-row projection: no shuffle until
    * the final ORDER BY. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .withColumn("len", size($"toks"))
      .filter($"len" >= 1)
      .select($"doc_id", $"toks", $"len",
        explode(expr("filter(sequence(1, len, 80), s -> s = 1 OR len >= s + 20)"))
          .as("start"))
      .withColumn("chunk", slice($"toks", $"start", lit(100)))
      .select($"doc_id",
        (($"start" - 1) / 80).cast("int").as("chunk_idx"),
        $"start",
        size($"chunk").as("n_toks"),
        md5(array_join($"chunk", " ")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }
  private val q62Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |st AS (SELECT doc_id, t, len(t) AS n, unnest(range(1, len(t) + 1, 80)) AS s
      |  FROM d WHERE len(t) >= 1),
      |kept AS (SELECT * FROM st WHERE s = 1 OR n >= s + 20)
      |SELECT doc_id,
      |  CAST((s - 1) // 80 AS INT) AS chunk_idx,
      |  CAST(s AS INT) AS start,
      |  CAST(least(s + 99, n) - s + 1 AS INT) AS n_toks,
      |  md5(array_to_string(t[s : least(s + 99, n)], ' ')) AS chunk_md5
      |FROM kept ORDER BY doc_id, chunk_idx""".stripMargin

  /** q63: benchmark decontamination — which training docs share an 8-gram
    * with the (deterministic) holdout set (doc_id % 20 = 0, the stand-in
    * for an eval benchmark). The contamination join runs on the 8-gram
    * shingle key (native WordShingles, shuffle-hash join): corpus and
    * benchmark only meet where they literally share an 8-gram, the same
    * bounded-bucket shape as the near-dup family. Distinct-counts are
    * computed by pre-distincting each grain and counting rows — no
    * countDistinct Expand. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def grams(df: DataFrame) = df
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 8)
      .select($"doc_id", explode(graft.functions.text.shingles($"toks", 8)).as("g"))
    val docs = Tables.documents(s, dir)
    val corpus = grams(docs.filter($"doc_id" % 20 =!= 0))
    val holdout = grams(docs.filter($"doc_id" % 20 === 0))
      .select($"doc_id".as("h_doc"), $"g")
    val hits = corpus.join(holdout.hint("shuffle_hash"), "g")
    val nGrams = hits.select($"doc_id", $"g").distinct()
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared_8grams"))
    val nDocs = hits.select($"doc_id", $"h_doc").distinct()
      .groupBy($"doc_id").agg(count(lit(1)).as("n_holdout_docs"))
    nGrams.join(nDocs, "doc_id")
      .select($"doc_id", $"n_shared_8grams", $"n_holdout_docs")
      .orderBy($"doc_id")
  }
  private val q63Sql = {
    val g8 = (1 to 8).map(o => s"t[i+${o - 1}]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         range(1, len(t) - 6), i -> $g8))) AS g
      |       FROM toks WHERE len(t) >= 8),
      |corpus AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
      |holdout AS (SELECT doc_id AS h_doc, g FROM sh WHERE doc_id % 20 = 0),
      |hits AS (SELECT c.doc_id, c.g, h.h_doc
      |  FROM corpus c JOIN holdout h ON c.g = h.g),
      |ng AS (SELECT doc_id, count(*) AS n_shared_8grams
      |  FROM (SELECT DISTINCT doc_id, g FROM hits) GROUP BY 1),
      |nd AS (SELECT doc_id, count(*) AS n_holdout_docs
      |  FROM (SELECT DISTINCT doc_id, h_doc FROM hits) GROUP BY 1)
      |SELECT ng.doc_id, n_shared_8grams, n_holdout_docs
      |FROM ng JOIN nd ON ng.doc_id = nd.doc_id
      |ORDER BY ng.doc_id""".stripMargin
  }

  /** q64: stratified deterministic sample — per (lang, source) stratum
    * keep the 3 documents with the smallest md5(doc_id), i.e. an unbiased
    * hash-ordered subsample whose membership is a pure function of the id
    * (stable under resharding, append-only growth changes strata
    * membership only where new docs hash lower). One shuffle on the
    * stratum key; the per-stratum top-k is a bounded window. */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang", $"source")
      .orderBy($"h", $"doc_id")
    Tables.documents(s, dir)
      .withColumn("h", md5($"doc_id".cast("string")))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"lang", $"source", $"rk", $"doc_id", $"h")
      .orderBy($"lang", $"source", $"rk")
  }
  private val q64Sql =
    """WITH h AS (SELECT lang, source, doc_id,
      |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
      |    ORDER BY h, doc_id) AS rk FROM h)
      |SELECT lang, source, rk, doc_id, h FROM r WHERE rk <= 3
      |ORDER BY lang, source, rk""".stripMargin

  /** q65: cross-modal agreement — q26's text near-dup pairs (3-gram
    * Jaccard >= 0.15) joined to both endpoints' embeddings, reporting the
    * embedding cosine next to the text Jaccard. The operator a curation
    * pipeline runs to sanity-check that its text-dedup and its embedding
    * space agree before trusting either at scale. Pair generation is the
    * q26 shingle-key join; the two embedding attachments are id-key
    * equi-joins (broadcast at small SF, shuffle at scale — unhinted). */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val e = VectorQueries.normed(s, dir)
    TextDedupQueries.jaccardPairs(s, dir, 0.15)
      .select($"doc_a", $"doc_b", $"jaccard")
      .join(e.as("a"), $"doc_a" === $"a.vec_id")
      .join(e.as("b"), $"doc_b" === $"b.vec_id")
      .select($"doc_a", $"doc_b", $"jaccard",
        round(VectorQueries.cosSpark, 6).as("cos_sim"))
      .orderBy($"doc_a", $"doc_b")
  }
  private val q65Sql =
    s"""${TextDedupQueries.shinglesSql},
      |${TextDedupQueries.jaccardPairsSqlCtes},
      |${VectorQueries.normedSql.stripPrefix("WITH ")}
      |SELECT doc_a, doc_b, jaccard,
      |  round(${VectorQueries.cosDuck}, 6) AS cos_sim
      |FROM jp JOIN n a ON doc_a = a.vec_id JOIN n b ON doc_b = b.vec_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q67: connected components of the near-dup graph — the group-resolution
    * step every dedup pipeline runs between "candidate pairs" and "keep one
    * per group", exercised here through the distributed min-id label
    * propagation in [[graft.dedup.Dedup.connectedComponents]]
    * (pointer-jumping, O(log diameter) shuffle-join rounds, nothing
    * driver-side). Edges are q27's MinHash
    * band pairs (>= 2 agreeing bands). The oracle computes the same
    * components with a recursive-CTE transitive closure — tractable for the
    * oracle's graph size, quadratic in general, which is exactly why the
    * engine side iterates distributed joins instead. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = TextDedupQueries.minhashBandPairs(s, dir, minBands = 2)
      .select($"doc_a", $"doc_b")
    graft.dedup.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select($"__id".as("doc_id"), $"__lbl".as("component_root"))
      .orderBy($"doc_id")
  }
  private val q67Sql =
    s"""${TextDedupQueries.shinglesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
      |${TextDedupQueries.minhashPairsSqlCtes},
      |edges AS (SELECT doc_a AS s, doc_b AS d FROM pr
      |  UNION SELECT doc_b, doc_a FROM pr),
      |reach AS (
      |  SELECT s AS id, s AS r FROM edges
      |  UNION
      |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s
      |)
      |SELECT id AS doc_id, min(r) AS component_root
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** q107: per-source quota capping — the corpus-mixing step that stops a
    * dominant source from flooding a training mix: within each source,
    * docs rank by quality (n_chars desc, id tiebreak) and survive while
    * their RUNNING char share stays within 60% of the source's total
    * (rank 1 always survives, so no source vanishes). The share test is
    * pure integer cross-multiplication (`cum·100 ≤ tot·60`) — no double
    * division anywhere, so the cut line is exact in any engine. One
    * shuffle on source; both windows share its sort. */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")
    val tot = org.apache.spark.sql.expressions.Window.partitionBy($"source")
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("cum", sum($"n_chars")
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("tot", sum($"n_chars").over(tot))
      .filter($"rn" === 1 || $"cum" * 100 <= $"tot" * 60)
      .select($"doc_id", $"source", $"n_chars", $"rn".cast("long").as("quality_rank"))
      .orderBy($"source", $"quality_rank")
  }
  private val q107Sql =
    """WITH r AS (SELECT doc_id, source, n_chars,
      |    row_number() OVER w AS rn,
      |    sum(n_chars) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(n_chars) OVER (PARTITION BY source) AS tot
      |  FROM documents
      |  WINDOW w AS (PARTITION BY source ORDER BY n_chars DESC, doc_id))
      |SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS quality_rank
      |FROM r WHERE rn = 1 OR cum * 100 <= tot * 60
      |ORDER BY source, quality_rank""".stripMargin

  /** q148: split-leakage audit — the check a dedup-aware pipeline runs
    * before trusting an eval set: a per-document hash split (q60's rule)
    * ignores near-duplicate structure, so a minhash component can land
    * members on BOTH sides — its eval docs are then train-set leakage.
    * Emits every leaking component with its per-split counts (empty
    * output = the split is group-safe; here it is not, which is the
    * point). Composition: q67's component labeling + q60's split rule +
    * one grouped audit — the engine's iterative and hash layers feeding
    * one declarative invariant check. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = TextDedupQueries.minhashBandPairs(s, dir, minBands = 2)
      .select($"doc_a", $"doc_b")
    graft.dedup.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select($"__id".as("doc_id"), $"__lbl".as("component_root"))
      .withColumn("split", splitColumn("doc_id"))
      .groupBy($"component_root")
      .agg(sum(when($"split" === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when($"split" === "eval", 1L).otherwise(0L)).as("n_eval"))
      .where($"n_train" > 0L && $"n_eval" > 0L)
      .orderBy($"component_root")
  }
  private val q148Sql =
    s"""${TextDedupQueries.shinglesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
      |${TextDedupQueries.minhashPairsSqlCtes},
      |edges AS (SELECT doc_a AS s, doc_b AS d FROM pr
      |  UNION SELECT doc_b, doc_a FROM pr),
      |reach AS (
      |  SELECT s AS id, s AS r FROM edges
      |  UNION
      |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s
      |),
      |comp AS (SELECT id AS doc_id, min(r) AS component_root
      |  FROM reach GROUP BY id),
      |aud AS (SELECT component_root,
      |    CAST(sum(CASE WHEN ${duckBucket("doc_id")} % 100 < 10
      |      THEN 0 ELSE 1 END) AS BIGINT) AS n_train,
      |    CAST(sum(CASE WHEN ${duckBucket("doc_id")} % 100 < 10
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
      |  FROM comp GROUP BY component_root)
      |SELECT component_root, n_train, n_eval FROM aud
      |WHERE n_train > 0 AND n_eval > 0
      |ORDER BY component_root""".stripMargin

  /** q149: deterministic epoch shuffle — the reproducible data-order a
    * trainer consumes: each epoch reorders the corpus by
    * md5(epoch ':' doc_id), a pure per-row function of (epoch, id), so
    * the order is identical under any partitioning, cluster size, or
    * engine — and differs between epochs. Emits each epoch's first 30
    * positions. Window top-k per epoch: k rows per partition cross the
    * exchange (rank ≤ k prunes map-side), never a global sort of the
    * corpus. */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val epochs = Seq(0, 1)
    val base = Tables.documents(s, dir).select($"doc_id")
    val salted = epochs.map(e => base
        .withColumn("epoch", lit(e))
        .withColumn("sk", md5(concat(lit(e.toString), lit(":"), $"doc_id".cast("string")))))
      .reduce(_ unionByName _)
    val w = Window.partitionBy($"epoch").orderBy($"sk", $"doc_id")
    salted.withColumn("pos", row_number().over(w))
      .where($"pos" <= 30)
      .select($"epoch", $"pos", $"doc_id", $"sk".as("shuffle_key"))
      .orderBy($"epoch", $"pos")
  }
  private val q149Sql =
    """WITH ep AS (SELECT unnest([0, 1]) AS epoch),
      |salted AS (SELECT epoch, doc_id,
      |    md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS sk
      |  FROM documents CROSS JOIN ep),
      |rk AS (SELECT epoch, doc_id, sk,
      |    row_number() OVER (PARTITION BY epoch ORDER BY sk, doc_id) AS pos
      |  FROM salted)
      |SELECT epoch, pos, doc_id, sk AS shuffle_key FROM rk
      |WHERE pos <= 30 ORDER BY epoch, pos""".stripMargin

  /** q152: repeated-span mining — the corpus-wide cut-list a substring
    * dedup pass (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") consumes: every 4-token span occurring >= 3
    * times anywhere in the corpus, with total occurrences, distinct docs,
    * and the first doc. Unlike the shingle-SET families (q26/q63: distinct
    * shingles per doc, doc-level verdicts), this keeps MULTIPLICITY and is
    * span-granular — the output is what gets cut, not which docs match.
    *
    * Scale shape: span enumeration is a pure per-row transform (no
    * self-join on position); the count is one hash agg on the span key
    * with map-side partials. The suffix-array formulation this
    * approximates is inherently sequential; fixed-length windows keyed by
    * content are the distributed version, and longer spans come from
    * seeding on these hits (only spans containing a frequent 4-span can
    * themselves be frequent). */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
      .where(size($"w") >= 4)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(w) - 3), i -> concat_ws(' ', slice(w, i, 4)))"))
        .as("span"))
      .groupBy($"span")
      .agg(count(lit(1)).as("n_occ"), countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("first_doc"))
      .where($"n_occ" >= 3L)
      .orderBy($"span")
  }
  private val q152Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sp AS (SELECT doc_id, array_to_string(w[s.i:s.i + 3], ' ') AS span
      |  FROM t, UNNEST(range(1, len(w) - 2)) AS s(i) WHERE len(w) >= 4)
      |SELECT span, CAST(count(*) AS BIGINT) AS n_occ,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  min(doc_id) AS first_doc
      |FROM sp GROUP BY span HAVING count(*) >= 3
      |ORDER BY span""".stripMargin

  /** q335: span-dedup CONSUME — applies q152's repeated-span cut-list to
    * emit the substring-deduped corpus (the other half of the Lee et al.
    * 2022 pair; q152 mines WHAT to cut, this cuts it). Discipline:
    * every frequent 4-token span keeps its FIRST occurrence — the
    * deterministic min(doc_id, start) one, an engine/partitioning-
    * invariant rule — and every token covered by any NON-first
    * occurrence is cut; surviving tokens reassemble in position order.
    * Cut/keep is a PARTITION of each doc's tokens (n_cut + n_kept =
    * n_tokens, gated per row), and overlapping frequent spans union
    * their coverage.
    *
    * Scale shape: span enumeration is per-row; the cut-list is
    * DATA-SIZED (never broadcast, never collected) — the match is a
    * shuffle join on the span key; first-occurrence election is a
    * map-side-combinable min-struct per span (no per-span sort, skew-
    * safe on hot spans); coverage expands ≤4 rows per matched
    * occurrence and dedups on (doc_id, pos); the cut is an anti-join on
    * (doc_id, pos); reassembly groups per doc with a doc-length-bounded
    * in-group sort — the same class as every per-doc re-pack here. */
  private def q335(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
    val sp = docs.where(size($"w") >= 4)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w) - 4), " +
          "i -> struct(i AS i, concat_ws(' ', slice(w, i + 1, 4)) AS span))")).as("p"))
      .select($"doc_id", $"p.i".as("i"), $"p.span".as("span"))
    val cutList = sp.groupBy($"span").agg(count(lit(1)).as("n_occ"))
      .where($"n_occ" >= 3L).select($"span")
    // shuffle_hash on the banded-key shape (q26's rationale): the build
    // side is one bounded span-bucket partition, sort-merge would sort
    // the full occurrence stream
    val matched = sp.join(cutList.hint("shuffle_hash"), Seq("span"))
    val first = matched.groupBy($"span")
      .agg(min(struct($"doc_id", $"i")).as("f"))
    val nonFirst = matched.join(first.hint("shuffle_hash"), Seq("span"))
      .where(!($"doc_id" === $"f.doc_id" && $"i" === $"f.i"))
    val covered = nonFirst
      .select($"doc_id", explode(sequence($"i", $"i" + lit(3))).as("pos"))
      .distinct()
    val toks = docs.select($"doc_id", posexplode($"w").as(Seq("pos", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"))
          .as("kept_text"))
    docs.select($"doc_id", size($"w").cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        ($"n_tokens" - coalesce($"n_kept", lit(0L))).as("n_cut"),
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"kept_text", lit("")).as("kept_text"))
      .orderBy($"doc_id")
  }
  private val q335Sql =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sp AS MATERIALIZED (SELECT doc_id, s.i AS i,
      |    array_to_string(w[s.i:s.i + 3], ' ') AS span
      |  FROM t, UNNEST(range(1, len(w) - 2)) AS s(i) WHERE len(w) >= 4),
      |cut AS (SELECT span FROM sp GROUP BY span HAVING count(*) >= 3),
      |m AS MATERIALIZED (SELECT sp.doc_id, sp.i,
      |    row_number() OVER (PARTITION BY sp.span
      |      ORDER BY sp.doc_id, sp.i) AS rn
      |  FROM sp JOIN cut USING (span)),
      |cov AS (SELECT DISTINCT m.doc_id, u.p AS pos
      |  FROM m, UNNEST(range(m.i, m.i + 4)) AS u(p) WHERE m.rn > 1),
      |tok AS (SELECT doc_id, s.i AS pos, w[s.i] AS tok
      |  FROM t, UNNEST(range(1, len(w) + 1)) AS s(i)),
      |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
      |  WHERE NOT EXISTS (SELECT 1 FROM cov
      |    WHERE cov.doc_id = tok.doc_id AND cov.pos = tok.pos)),
      |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY pos) AS kept_text
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
      |  CAST(len(t.w) AS BIGINT) - coalesce(a.n_kept, 0) AS n_cut,
      |  coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
      |  coalesce(a.kept_text, '') AS kept_text
      |FROM t LEFT JOIN a USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q338: MAXIMAL repeated-span mining — extends q152's fixed-length
    * seeds to the longest frequent spans, the "longer spans come from
    * seeding on these hits" half q152's scaladoc promises: a
    * (k+1)-span can only be frequent if its k-prefix is (count is
    * monotone under extension — the apriori property), so each round
    * extends only FREQUENT k-span occurrences by one token and
    * re-counts. Emits, per length k in 4..7, the RIGHT-MAXIMAL frequent
    * spans (no frequent (k+1)-extension exists; rows at the k=7 cap are
    * all frequent 7-spans, extendability beyond the cap unevaluated).
    * This is the distributed replacement for the inherently sequential
    * suffix-array pass of Lee et al. 2022's exact-substring dedup.
    *
    * Scale shape: per round ONE map-side-combinable count shuffle on the
    * span key, one shuffle_hash join back to occurrences, and one
    * (doc_id, pos) join to pick up the extension token; the occurrence
    * stream shrinks monotonically round over round (apriori), so round
    * cost is bounded by the seed round. No driver collects. */
  private def q338(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val minOcc = 3L
    val cap = 7
    val docs = Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
    val toks = pins(docs.select($"doc_id", posexplode($"w").as(Seq("pos", "tok"))))
    var occ = docs.where(size($"w") >= 4)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w) - 4), " +
          "i -> struct(i AS i, concat_ws(' ', slice(w, i + 1, 4)) AS span))")).as("p"))
      .select($"doc_id", $"p.i".as("i"), $"p.span".as("span"))
    var out: DataFrame = null
    for (k <- 4 to cap) {
      val freq = pins(occ.groupBy($"span", $"doc_id")
        .agg(count(lit(1)).as("c"))
        .groupBy($"span")
        .agg(sum($"c").as("n_occ"), count(lit(1)).as("n_docs"),
          min($"doc_id").as("first_doc"))
        .where($"n_occ" >= minOcc))
      val maximal =
        if (k == cap) freq
        else {
          val fOcc = occ.join(freq.select($"span").hint("shuffle_hash"), Seq("span"))
          // alias both sides: occurrence frames beyond round 4 carry toks
          // attributes in their lineage, so an unqualified re-join is an
          // ambiguous self-join
          val next = pins(fOcc.as("o").join(toks.as("tk"),
              col("o.doc_id") === col("tk.doc_id") &&
                col("tk.pos") === col("o.i") + lit(k))
            .select(col("o.doc_id").as("doc_id"), col("o.i").as("i"),
              concat(col("o.span"), lit(" "), col("tk.tok")).as("span"),
              col("o.span").as("parent")))
          // a (k+1)-span determines its parent (its k-token prefix), so
          // first() over the group is exact, not arbitrary
          val extendedParents = next.groupBy($"span")
            .agg(count(lit(1)).as("n_occ"), first($"parent").as("p0"))
            .where($"n_occ" >= minOcc)
            .select($"p0".as("span")).distinct()
          occ = next.drop("parent")
          freq.join(extendedParents, Seq("span"), "left_anti")
        }
      val tagged = maximal.select(lit(k.toLong).as("k"), $"span",
        $"n_occ", $"n_docs", $"first_doc")
      out = if (out == null) tagged else out.unionByName(tagged)
    }
    out.orderBy($"k", $"span")
  }
  private val q338Sql = {
    val rounds = Seq(4, 5, 6)
    val exts = rounds.map { k =>
      s"""fo$k AS (SELECT o.doc_id, o.i, o.span FROM o$k o
         |  JOIN f$k USING (span)),
         |o${k + 1} AS MATERIALIZED (
         |  SELECT o.doc_id, o.i, o.span || ' ' || tk.tok AS span,
         |    o.span AS parent
         |  FROM fo$k o JOIN tok tk
         |    ON tk.doc_id = o.doc_id AND tk.pos = o.i + $k),
         |f${k + 1} AS MATERIALIZED (
         |  SELECT span, CAST(count(*) AS BIGINT) AS n_occ,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    min(doc_id) AS first_doc
         |  FROM o${k + 1} GROUP BY span HAVING count(*) >= 3),
         |par${k + 1} AS (SELECT DISTINCT o.parent AS span
         |  FROM o${k + 1} o JOIN f${k + 1} f ON o.span = f.span),
         |max$k AS (SELECT CAST($k AS BIGINT) AS k, f.span, f.n_occ,
         |    f.n_docs, f.first_doc
         |  FROM f$k f WHERE NOT EXISTS (
         |    SELECT 1 FROM par${k + 1} p WHERE p.span = f.span))""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tok AS MATERIALIZED (SELECT doc_id, s.i AS pos, w[s.i] AS tok
      |  FROM t, UNNEST(range(1, len(w) + 1)) AS s(i)),
      |o4 AS MATERIALIZED (SELECT doc_id, s.i AS i,
      |    array_to_string(w[s.i:s.i + 3], ' ') AS span
      |  FROM t, UNNEST(range(1, len(w) - 2)) AS s(i) WHERE len(w) >= 4),
      |f4 AS MATERIALIZED (
      |  SELECT span, CAST(count(*) AS BIGINT) AS n_occ,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    min(doc_id) AS first_doc
      |  FROM o4 GROUP BY span HAVING count(*) >= 3),
      |$exts
      |SELECT k, span, n_occ, n_docs, first_doc FROM (
      |  SELECT * FROM max4
      |  UNION ALL SELECT * FROM max5
      |  UNION ALL SELECT * FROM max6
      |  UNION ALL SELECT CAST(7 AS BIGINT), span, n_occ, n_docs, first_doc
      |    FROM f7
      |) ORDER BY k, span""".stripMargin
  }

  /** q153: vocabulary-growth curve (Heaps' law audit) — cumulative corpus
    * vocabulary and token count after each document in doc_id order. The
    * sub-linearity of vocab(tokens) is the standard "is this corpus
    * natural or degenerate" diagnostic (too flat = boilerplate, too steep
    * = noise), and the curve is what sizes a tokenizer's vocab budget.
    *
    * Distributed formulation: "cumulative distinct" is a running set —
    * hostile at scale — but first-occurrence attribution makes it a sum:
    * each term contributes 1 at min(doc_id), so vocab(d) is the prefix
    * sum of per-doc new-term counts. One token agg, one tiny per-doc agg,
    * and [[graft.operators.DistributedScan.prefixSums]] for the running
    * totals — no single-partition window anywhere. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("tok"))
    val newTerms = toks.groupBy($"tok").agg(min($"doc_id").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("new_terms"))
    val nTok = toks.groupBy($"doc_id").agg(count(lit(1)).as("n_tokens"))
    val base = docs.select($"doc_id")
      .join(newTerms, Seq("doc_id"), "left")
      .join(nTok, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"new_terms", lit(0L)).as("new_terms"),
        coalesce($"n_tokens", lit(0L)).as("n_tokens"))
    graft.operators.DistributedScan.prefixSums(
        base, Seq(col("doc_id")), Seq("n_tokens", "new_terms"))
      .select($"doc_id", $"n_tokens_cum".as("tokens_cum"),
        $"new_terms_cum".as("vocab_cum"))
      .orderBy($"doc_id")
  }
  private val q153Sql =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |newt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS new_terms FROM
      |  (SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY tok) GROUP BY doc_id),
      |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
      |  FROM toks GROUP BY doc_id),
      |base AS (SELECT d.doc_id, coalesce(n.new_terms, 0) AS new_terms,
      |    coalesce(c.n_tokens, 0) AS n_tokens
      |  FROM documents d LEFT JOIN newt n ON d.doc_id = n.doc_id
      |  LEFT JOIN cnt c ON d.doc_id = c.doc_id)
      |SELECT doc_id,
      |  CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS tokens_cum,
      |  CAST(sum(new_terms) OVER (ORDER BY doc_id) AS BIGINT) AS vocab_cum
      |FROM base ORDER BY doc_id""".stripMargin

  /** q283: UniMax water-filling — the per-source token-budget allocator
    * for data mixing (Chung et al.'s UniMax: cap every source at a
    * common threshold c so over-represented sources stop crowding the
    * mix, spend B = 60% of corpus tokens): sort sources by token count,
    * take the largest saturation prefix j* with
    * c = (B − P_j) div (m − j) ≥ t_j, allocate min(tₛ, c), and hand the
    * division remainder to the largest unsaturated sources (+1 each,
    * rn > m − r — feasible because t > c ⇒ t ≥ c+1 on integers; the
    * q187 largest-remainder discipline). The data-sized step is one
    * per-source token count; the allocator runs on the |sources|-row
    * frame (tiny-table windows, q112 pattern) in pure integer
    * arithmetic, so the oracle replays every branch exactly — including
    * the j*-maximality argument's t_{j*+1} > c corollary, which makes
    * the +1 bonus always fit. */
  private def q283(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .groupBy($"source")
      .agg(sum(size(split($"text", " ")).cast("long")).as("tokens"))
    val wRn = Window.orderBy($"tokens", $"source")
    val ranked = toks
      .withColumn("rn", row_number().over(wRn).cast("long"))
      .withColumn("p", sum($"tokens").over(
        wRn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("total", sum($"tokens").over(Window.partitionBy()))
      .withColumn("budget", expr("(total * 6) div 10"))
      .withColumn("pprev", $"p" - $"tokens")
      .withColumn("tprev", coalesce(lag($"tokens", 1).over(wRn), lit(0L)))
      .withColumn("cj", expr("(budget - pprev) div (m - rn + 1)"))
    val star = ranked.filter($"cj" >= $"tprev")
      .agg(max(struct($"rn", $"cj", $"pprev")).as("s"))
      .select(($"s.rn" - 1L).as("jstar"), $"s.cj".as("c"), $"s.pprev".as("pstar"))
    ranked.crossJoin(broadcast(star))
      .withColumn("r", $"budget" - $"pstar" - $"c" * ($"m" - $"jstar"))
      .withColumn("alloc",
        when($"rn" <= $"jstar", $"tokens")
          .otherwise($"c" + when($"rn" > $"m" - $"r", 1L).otherwise(0L)))
      .select($"source", $"tokens", $"alloc")
      .orderBy($"source")
  }
  private val q283Sql =
    """WITH toks AS (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |rk AS (SELECT source, tokens,
      |    CAST(row_number() OVER (ORDER BY tokens, source) AS BIGINT) AS rn,
      |    CAST(sum(tokens) OVER (ORDER BY tokens, source
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
      |    CAST(count(*) OVER () AS BIGINT) AS m,
      |    CAST(sum(tokens) OVER () AS BIGINT) AS total,
      |    CAST(coalesce(lag(tokens) OVER (ORDER BY tokens, source), 0)
      |      AS BIGINT) AS tprev
      |  FROM toks),
      |c1 AS (SELECT *, (total * 6) // 10 AS budget, p - tokens AS pprev
      |  FROM rk),
      |c2 AS (SELECT *, (budget - pprev) // (m - rn + 1) AS cj FROM c1),
      |star AS (SELECT rn - 1 AS jstar, cj AS c, pprev AS pstar
      |  FROM c2 WHERE cj >= tprev ORDER BY rn DESC LIMIT 1)
      |SELECT c2.source, c2.tokens,
      |  CAST(CASE WHEN c2.rn <= s.jstar THEN c2.tokens
      |    ELSE s.c + (CASE WHEN c2.rn >
      |      c2.m - (c2.budget - s.pstar - s.c * (c2.m - s.jstar))
      |      THEN 1 ELSE 0 END) END AS BIGINT) AS alloc
      |FROM c2 CROSS JOIN star s
      |ORDER BY c2.source""".stripMargin

  /** q292: Zipf slope — OLS of ln(freq) on ln(rank) over the top-1000
    * token ranks, the one-number corpus-health diagnostic (natural text
    * sits near −1; template/boilerplate-heavy corpora flatten, spam
    * steepens — a drift in this slope is a cheap tripwire before
    * retraining a tokenizer). The data-sized step is the token count;
    * ranking the vocabulary frame and the regression run on ≤1000 rows.
    * Per-rank ln terms are doubles, so — ANOVA's q289 lesson — every
    * cross-rank sum is order-pinned: each term rounds at 9 dp and sums
    * as exact DECIMAL(38,9) before the one closed-form slope. Rank ties
    * break by token so both engines rank identically. */
  private def q292(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val freq = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("f"))
    val ranked = freq
      .withColumn("r", row_number().over(
        Window.orderBy($"f".desc, $"tok")).cast("long"))
      .filter($"r" <= 1000)
      .select($"r", log($"r".cast("double")).as("x"),
        log($"f".cast("double")).as("y"))
    def pinned(c: org.apache.spark.sql.Column) =
      sum(round(c, 9).cast("decimal(38,9)")).cast("double")
    ranked.agg(count(lit(1)).as("n"),
        pinned($"x").as("sx"), pinned($"y").as("sy"),
        pinned($"x" * $"y").as("sxy"), pinned($"x" * $"x").as("sxx"))
      .select($"n",
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx"), 6).as("zipf_slope6"),
        round(($"sy" - (($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx")) * $"sx") / $"n", 6)
          .as("intercept6"))
  }
  private val q292Sql =
    """WITH freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  GROUP BY 1),
      |ranked AS (SELECT
      |    CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT) AS r, f
      |  FROM freq QUALIFY r <= 1000),
      |xy AS (SELECT r, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
      |  FROM ranked),
      |cells AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx
      |  FROM xy)
      |SELECT n,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope6,
      |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
      |    AS intercept6
      |FROM cells""".stripMargin

  /** q327: DSIR-shaped importance reweighting — Data Selection via
    * Importance Resampling (Xie et al. 2023) reduced to its deterministic
    * integer core: score every raw-pool document by how much its hashed
    * unigram distribution looks like a TARGET domain rather than the raw
    * pool, then rank for resampling. The target domain is data-derived
    * (the lexicographically-first source), features are 256 md5 hash
    * buckets (vocabulary-size independent — the whole point of hashed
    * n-gram DSIR), and the per-bucket weight is the add-one-smoothed
    * likelihood ratio at ppm scale,
    * `w_b = (t_b+1)(R+256)·10⁶ div (r_b+1)(T+256)`, so both engines
    * compute the identical integer (products stay under int64 through the
    * ×10 rehearsal; beyond ~10¹² word-bucket mass the 10⁶ scaling
    * constant drops — a documented knob, q276 precedent). A document's
    * score is the integer mean weight over its words, and the output is
    * the top-40 resampling picks by (score desc, doc_id).
    *
    * Scale shape: one token explode feeding a 256-cell grouped count
    * (partial-combinable, broadcastable result), the weight table joins
    * back onto the token stream as a broadcast, per-doc score is one
    * doc_id shuffle, and the final selection is orderBy+limit —
    * TakeOrderedAndProject, never a full sort. Nothing in the plan grows
    * with vocabulary or document count except the two grouped passes. */
  private def q327(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, dir)
      .select($"doc_id", $"source", explode(split($"text", " ")).as("w"))
      .withColumn("b", hashBucket("w") % 256)
    val target = Tables.documents(s, dir)
      .agg(min($"source").as("tgt")).withColumn("k", lit(1))
    val tagged = words.join(broadcast(target.select($"tgt")),
      words("source") === col("tgt"), "left")
    val counts = tagged.groupBy($"b").agg(
      sum(when($"tgt".isNotNull, 1L).otherwise(0L)).as("t_b"),
      sum(when($"tgt".isNull, 1L).otherwise(0L)).as("r_b"))
    val totals = counts.agg(sum($"t_b").as("tt"), sum($"r_b").as("rt"))
      .withColumn("k", lit(1))
    val weights = counts.withColumn("k", lit(1))
      .join(broadcast(totals), Seq("k"))
      .select($"b", expr(
        "((t_b + 1) * (rt + 256) * 1000000) div ((r_b + 1) * (tt + 256))")
        .as("w_ppm"))
    val scored = tagged.filter($"tgt".isNull)
      .join(broadcast(weights), Seq("b"))
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_words"), sum($"w_ppm").as("wsum"))
      .select($"doc_id", $"source", $"n_words",
        expr("wsum div n_words").as("score_ppm"))
    scored
      .orderBy($"score_ppm".desc, $"doc_id")
      .limit(40)
      .withColumn("rank", row_number().over(
        Window.orderBy($"score_ppm".desc, $"doc_id")))
      .select($"rank", $"doc_id", $"source", $"n_words", $"score_ppm")
      .orderBy($"rank")
  }
  private def q327Sql = {
    val bucket = s"(${duckBucket("w")} % 256)"
    s"""WITH tgt AS (SELECT min(source) AS t FROM documents),
      |words AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |wb AS (SELECT doc_id, source, $bucket AS b,
      |    source = (SELECT t FROM tgt) AS is_t FROM words),
      |counts AS (SELECT b,
      |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
      |    CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS r_b
      |  FROM wb GROUP BY 1),
      |tot AS (SELECT sum(t_b) AS tt, sum(r_b) AS rt FROM counts),
      |wt AS (SELECT b, ((t_b + 1) * ((SELECT rt FROM tot) + 256) * 1000000)
      |    // ((r_b + 1) * ((SELECT tt FROM tot) + 256)) AS w_ppm
      |  FROM counts),
      |scored AS (SELECT doc_id, source,
      |    CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(w_ppm) // count(*) AS BIGINT) AS score_ppm
      |  FROM wb JOIN wt USING (b) WHERE NOT is_t
      |  GROUP BY 1, 2),
      |rk AS (SELECT *, CAST(row_number() OVER
      |    (ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT rank, doc_id, source, n_words, score_ppm
      |FROM rk WHERE rank <= 40 ORDER BY rank""".stripMargin
  }

  /** q346: LM-PERPLEXITY QUALITY BUCKETING (CCNet, Wenzek et al. 2020) —
    * the curation step every web-scale corpus runs between cleaning and
    * selection: train a language model on a trusted reference slice,
    * score every document by its per-token perplexity under that model,
    * and split the corpus into head/middle/tail tertiles (head = closest
    * to the reference = kept; tail = dropped or down-weighted). Here the
    * model is an add-one-smoothed unigram LM over the `lang = 'en'`
    * slice, and the score is all-integer SURPRISAL: per token,
    * floor(log2((N + V) div (cnt + 1))) — the bit-cost of the token
    * under the reference distribution, exact on both engines because the
    * division is integer and floor∘log2 of an integer < 2^40 cannot
    * straddle an integer boundary in double arithmetic (the nearest
    * non-power-of-2 integer is ≥ 2^-40 away in log2, 6 orders above the
    * ~1e-14 libm error). Per-doc aggregate = (token count, total bits,
    * avg microbits = bits·10⁶ div n_tok); tertile assignment replays
    * ntile(3) arithmetic over the GLOBAL rank — computed scalably via
    * [[graft.operators.DistributedScan.rowNumbers]] (range-partitioned
    * two-level scan), while the oracle uses DuckDB's actual ntile(3),
    * so the gate also pins the rank→bucket formula against the real
    * window function.
    *
    * Scale shape: the LM is a broadcast dimension (bounded by vocabulary
    * size, not corpus size — the hot-token join skew that a shuffle join
    * would suffer never materializes); scoring is map-only after the
    * broadcast; the per-doc aggregate is map-side combinable on doc_id;
    * the only global structure is the prefix-sum rank (range partitioned,
    * no single-partition window). Driver traffic: one 2-value normalizer
    * row + one count. */
  private def q346(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val toks = docs.select($"doc_id", $"lang",
      explode(split($"text", " ")).as("tok"))
    val lm = toks.filter($"lang" === "en")
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    // bounded collect: ONE row — the LM normalizer (token count + type count)
    val nv = lm.agg(coalesce(sum($"cnt"), lit(0L)).as("n"),
      count(lit(1)).as("v")).collect()(0)
    val norm = nv.getLong(0) + nv.getLong(1)
    require(norm > 0 && norm < (1L << 40),
      s"surprisal contract needs 0 < N+V < 2^40, got $norm")
    val perDoc = toks
      .join(broadcast(lm.withColumnRenamed("tok", "m_tok")),
        $"tok" === $"m_tok", "left")
      .select($"doc_id",
        floor(log2(expr(s"$norm div (coalesce(cnt, 0) + 1)")))
          .cast("long").as("s"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"), sum($"s").as("bits"))
      .withColumn("avg_microbits", expr("(bits * 1000000) div n_tok"))
    // bounded action: one count (the ntile arithmetic needs n)
    val n = perDoc.count()
    require(n >= 3, s"tertile bucketing needs >= 3 documents, got $n")
    val q = n / 3
    val r = n % 3
    val cut = r * (q + 1)
    val ranked = graft.operators.DistributedScan.rowNumbers(
      perDoc, Seq(col("avg_microbits"), col("doc_id")), "rk")
    ranked
      .withColumn("b", expr(
        s"CASE WHEN rk <= $cut THEN (rk + $q) div ${q + 1} " +
          s"ELSE $r + (rk - $cut + ${q - 1}) div $q END"))
      .select($"doc_id", $"n_tok", $"bits", $"avg_microbits",
        when($"b" === 1, "head").when($"b" === 2, "middle")
          .otherwise("tail").as("tier"))
      .orderBy($"doc_id")
  }
  private val q346Sql =
    """WITH toks AS (SELECT doc_id, lang,
      |    unnest(string_split(text, ' ')) AS tok FROM documents),
      |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      |  FROM toks WHERE lang = 'en' GROUP BY 1),
      |nv AS (SELECT CAST(coalesce(sum(cnt), 0) + count(*) AS BIGINT)
      |    AS norm FROM lm),
      |surp AS (SELECT t.doc_id,
      |    CAST(floor(log2(nv.norm // (coalesce(l.cnt, 0) + 1)))
      |      AS BIGINT) AS s
      |  FROM toks t CROSS JOIN nv LEFT JOIN lm l ON t.tok = l.tok),
      |docagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |    CAST(sum(s) AS BIGINT) AS bits FROM surp GROUP BY 1),
      |rk AS (SELECT doc_id, n_tok, bits,
      |    (bits * 1000000) // n_tok AS avg_microbits,
      |    ntile(3) OVER (ORDER BY (bits * 1000000) // n_tok, doc_id) AS b
      |  FROM docagg)
      |SELECT doc_id, n_tok, bits, avg_microbits,
      |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
      |    AS tier
      |FROM rk ORDER BY doc_id""".stripMargin

  /** q347: TEMPERATURE-BASED SOURCE MIXING (α = 0.5) — the multilingual/
    * multi-source sampling scheme of mT5 / XLM-R: sample source i with
    * probability ∝ massᵢ^α, flattening the natural distribution so
    * high-resource sources stop drowning low-resource ones. α = 1/2
    * makes the weight an INTEGER SQUARE ROOT of the per-source character
    * mass — computed exactly on both engines as floor(sqrt(double)) with
    * a ±1 integer correction (double sqrt can be off by one ulp near
    * perfect squares; the correction re-anchors on exact integer
    * comparisons, so the weight is bit-deterministic at any magnitude
    * < 2^52). The 200-document budget is then apportioned by the q187
    * largest-remainder rule (floors + top remainders, ties by source),
    * and each source's quota is filled DETERMINISTICALLY by md5-bucket
    * order (the q60/q149 discipline: a reshuffle-proof, rerun-proof
    * pick). Output = the selected corpus rows with their quota and pick
    * rank, so the hash pins the weights, the apportionment, and every
    * individual pick.
    *
    * Scale shape: one grouped aggregate over the corpus (map-side
    * combinable), the allocation arithmetic on the |sources|-row frame
    * (tiny-frame window discipline, cf. q187), then a per-source top-k
    * (partitioned window, quota-bounded). No data-sized collect, no
    * global window. */
  private def q347(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 200L
    val docs = Tables.documents(s, dir)
    val mass = docs.groupBy($"source")
      .agg(sum($"n_chars").as("chars"))
      .withColumn("s0", floor(sqrt($"chars".cast("double"))).cast("long"))
      .withColumn("wt", expr(
        "CASE WHEN (s0 + 1) * (s0 + 1) <= chars THEN s0 + 1 " +
          "WHEN s0 * s0 > chars THEN s0 - 1 ELSE s0 END"))
    val wAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Window.partitionBy().orderBy($"rem".desc, $"source")
    val alloc = mass
      .withColumn("t", sum($"wt").over(wAll))
      .withColumn("basis", $"wt".cast("decimal(28,0)") * lit(budget))
      .withColumn("base", expr("basis div t"))
      .withColumn("rem", expr("basis % t"))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("leftover", lit(budget) - sum($"base").over(wAll))
      .select($"source".as("a_source"), $"wt",
        ($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L))
          .as("quota"))
    val wPick = Window.partitionBy($"source")
      .orderBy(hashBucket("doc_id"), $"doc_id")
    docs.join(broadcast(alloc), $"source" === $"a_source")
      .withColumn("pick", row_number().over(wPick))
      .filter($"pick" <= $"quota")
      .select($"source", $"doc_id", $"wt", $"quota",
        $"pick".cast("long").as("pick"))
      .orderBy($"source", $"pick")
  }
  private val q347Sql = {
    val b = duckBucket("doc_id")
    s"""WITH mass AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents GROUP BY 1),
      |wts AS (SELECT source, chars,
      |    CAST(floor(sqrt(CAST(chars AS DOUBLE))) AS BIGINT) AS s0
      |  FROM mass),
      |w AS (SELECT source,
      |    CASE WHEN (s0 + 1) * (s0 + 1) <= chars THEN s0 + 1
      |      WHEN s0 * s0 > chars THEN s0 - 1 ELSE s0 END AS wt
      |  FROM wts),
      |x AS (SELECT source, wt,
      |    200 * CAST(wt AS HUGEINT) // (SELECT sum(wt) FROM w) AS base,
      |    200 * CAST(wt AS HUGEINT) % (SELECT sum(wt) FROM w) AS rem
      |  FROM w),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
      |    200 - sum(base) OVER () AS leftover FROM x),
      |alloc AS (SELECT source, wt,
      |    CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
      |      AS quota FROM r),
      |picked AS (SELECT d.source, d.doc_id, a.wt, a.quota,
      |    row_number() OVER (PARTITION BY d.source
      |      ORDER BY $b, d.doc_id) AS pick
      |  FROM documents d JOIN alloc a ON d.source = a.source)
      |SELECT source, doc_id, wt, quota, CAST(pick AS BIGINT) AS pick
      |FROM picked WHERE pick <= quota
      |ORDER BY source, pick""".stripMargin
  }

  /** q354: CROSS-SPLIT N-GRAM NOVELTY — the memorization/contamination
    * pressure profile an eval pipeline reads before trusting a held-out
    * split (the aggregate complement of q63's per-hit decontamination):
    * for n = 1..4, what share of the EVAL split's word n-grams (by token
    * and by type) never appears in the TRAIN split? Low novelty at high
    * n means the eval set is paraphrase-contaminated; the n-gram novelty
    * curve is the standard memorization audit (cf. McCoy et al. 2021
    * "raven" n-gram novelty). The split is the engine's own
    * deterministic md5 split ([[splitColumn]], q60's contract), so the
    * gate also re-pins split stability end-to-end. All-integer output
    * (counts + ppm ratios by integer division).
    *
    * Scale shape: gram build is a projection; the train gram SET is a
    * distinct (one combinable shuffle on the gram key); novelty is a
    * LEFT ANTI join of eval grams against it on the same key (no
    * all-pairs anything); final roll-up is a 4-row aggregate. */
  private def q354(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .withColumn("split", splitColumn("doc_id"))
      .select($"split", split($"text", " ").as("w"))
    val grams = (1 to 4).map { n =>
      docs.filter(size($"w") >= n).select($"split", lit(n).as("n"),
        explode(expr(s"transform(sequence(1, size(w) - ${n - 1}), " +
          s"i -> array_join(slice(w, i, $n), chr(31)))")).as("gram"))
    }.reduce(_ unionAll _)
    val trainSet = grams.filter($"split" === "train")
      .select($"n".as("tn"), $"gram".as("tg")).distinct()
    val eval = grams.filter($"split" === "eval")
      .groupBy($"n", $"gram").agg(count(lit(1)).as("c"))
    val novel = eval.join(trainSet,
        $"n" === $"tn" && $"gram" === $"tg", "left_anti")
      .groupBy($"n")
      .agg(sum($"c").as("novel_total"), count(lit(1)).as("novel_types"))
      .withColumnRenamed("n", "n2")
    eval.groupBy($"n")
      .agg(sum($"c").as("eval_total"), count(lit(1)).as("eval_types"))
      .join(novel, $"n" === $"n2", "left")
      .select($"n".cast("long").as("n"), $"eval_total", $"eval_types",
        coalesce($"novel_total", lit(0L)).as("novel_total"),
        coalesce($"novel_types", lit(0L)).as("novel_types"))
      .withColumn("novelty_ppm",
        expr("(novel_total * 1000000) div eval_total"))
      .orderBy($"n")
  }
  private val q354Sql = {
    val b = duckBucket("doc_id")
    val branches = (1 to 4).map { n =>
      s"""SELECT split, $n AS n,
         |    unnest(list_transform(range(1, len(w) - ${n - 1} + 1),
         |      i -> array_to_string(w[i:i+${n - 1}], chr(31)))) AS gram
         |  FROM d WHERE len(w) >= $n""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH d AS (SELECT CASE WHEN $b % 100 < 10 THEN 'eval'
      |    ELSE 'train' END AS split,
      |    string_split(text, ' ') AS w FROM documents),
      |g AS (
      |  $branches),
      |tset AS (SELECT DISTINCT n, gram FROM g WHERE split = 'train'),
      |ev AS (SELECT n, gram, CAST(count(*) AS BIGINT) AS c
      |  FROM g WHERE split = 'eval' GROUP BY 1, 2),
      |nov AS (SELECT e.n, CAST(sum(e.c) AS BIGINT) AS novel_total,
      |    CAST(count(*) AS BIGINT) AS novel_types
      |  FROM ev e WHERE NOT EXISTS (SELECT 1 FROM tset t
      |    WHERE t.n = e.n AND t.gram = e.gram)
      |  GROUP BY 1),
      |tot AS (SELECT n, CAST(sum(c) AS BIGINT) AS eval_total,
      |    CAST(count(*) AS BIGINT) AS eval_types FROM ev GROUP BY 1)
      |SELECT CAST(t.n AS BIGINT) AS n, t.eval_total, t.eval_types,
      |  coalesce(v.novel_total, 0) AS novel_total,
      |  coalesce(v.novel_types, 0) AS novel_types,
      |  (coalesce(v.novel_total, 0) * 1000000) // t.eval_total
      |    AS novelty_ppm
      |FROM tot t LEFT JOIN nov v ON t.n = v.n
      |ORDER BY n""".stripMargin
  }

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q354_ngram_novelty", q354, Some(q354Sql)),
    QueryDef("q347_temperature_mixing", q347, Some(q347Sql)),
    QueryDef("q346_perplexity_buckets", q346, Some(q346Sql)),
    QueryDef("q283_unimax_budget", q283, Some(q283Sql)),
    QueryDef("q327_dsir_reweight", q327, Some(q327Sql)),
    QueryDef("q292_zipf_slope", q292, Some(q292Sql)),
    QueryDef("q67_connected_components", q67, Some(q67Sql)),
    QueryDef("q148_split_leakage", q148, Some(q148Sql)),
    QueryDef("q149_epoch_shuffle", q149, Some(q149Sql)),
    QueryDef("q60_hash_split", q60, Some(q60Sql)),
    QueryDef("q61_tfidf_topk", q61, Some(q61Sql)),
    QueryDef("q62_chunking", q62, Some(q62Sql)),
    QueryDef("q63_decontamination", q63, Some(q63Sql)),
    QueryDef("q64_stratified_sample", q64, Some(q64Sql)),
    QueryDef("q65_crossmodal_agreement", q65, Some(q65Sql)),
    QueryDef("q107_source_quota", q107, Some(q107Sql)),
    QueryDef("q152_span_mining", q152, Some(q152Sql)),
    QueryDef("q335_span_dedup_apply", q335, Some(q335Sql)),
    QueryDef("q338_maximal_spans", q338, Some(q338Sql)),
    QueryDef("q153_vocab_growth", q153, Some(q153Sql)),
  )
}
