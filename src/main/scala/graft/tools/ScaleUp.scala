package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Scale-rehearsal fixture writer: inflates the sf0.1 tables the flagship
  * operator family touches (documents, embeddings, lineitem) by an integer
  * replication factor, writing an sfN-shaped directory under target/.
  *
  * Replicas are INDEPENDENT corpora, not exact copies — mass exact
  * duplication would make every dedup gate artificially quadratic (one
  * giant near-dup group) and measure the degenerate case the hot-bucket
  * guard exists to reject, not organic growth:
  *  - documents: ids shift by k·10^7 and every WORD gets a replica suffix,
  *    so within-replica shingle/near-dup structure is preserved exactly
  *    while no shingle collides across replicas;
  *  - embeddings: ids shift and each dimension's sign flips by a
  *    (dim, replica)-keyed hash — sign patterns preserve norms and every
  *    within-replica cosine (s_i^2 = 1) while decorrelating replicas;
  *  - lineitem: order keys shift; the value columns the inference gates
  *    aggregate are untouched, so per-group row counts scale cleanly.
  *
  * Usage: runMain graft.tools.ScaleUp [reps] [srcDir] [dstDir]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(2).getOrElse(s"target/scale/x$reps")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val OFF = 10000000L

    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until reps).map { k =>
      if (k == 0) docs
      else docs
        .withColumn("doc_id", $"doc_id" + lit(k * OFF))
        .withColumn("text", array_join(
          transform(split($"text", " "), w => concat(w, lit(s"_r$k"))), " "))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until reps).map { k =>
      if (k == 0) emb
      else emb
        .withColumn("vec_id", $"vec_id" + lit(k * OFF))
        .withColumn("embedding", zip_with(
          $"embedding",
          transform(sequence(lit(0), size($"embedding") - 1),
            i => pmod(hash(i, lit(k)), lit(2))),
          (x, s) => when(s === 0, x).otherwise(-x)))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // shift part keys too: replicas must be DISJOINT graphs (the ×k
    // co-purchase/coreness rehearsal measures corpus growth, not the
    // densification of one fixed part universe)
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until reps).map { k =>
      if (k == 0) li
      else li.withColumn("l_orderkey", $"l_orderkey" + lit(k * OFF))
        .withColumn("l_partkey", $"l_partkey" + lit(k * OFF))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    // orders: disjoint customer/order universes per replica — the interval
    // self-join (q11) shuffles on o_custkey, so replicas grow the key
    // population while preserving each customer's order history shape
    val ord = spark.read.parquet(s"$src/orders.parquet")
    (0 until reps).map { k =>
      if (k == 0) ord
      else ord.withColumn("o_orderkey", $"o_orderkey" + lit(k * OFF))
        .withColumn("o_custkey", $"o_custkey" + lit(k * OFF))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")

    // events: disjoint user/event universes per replica (ids shift by
    // k·OFF); timestamps are kept, so per-user operators (PIT join, CDC
    // apply, frame exclusions) see k× independent histories while the
    // time-GLOBAL sweep-line concurrency gate sees genuinely higher
    // simultaneity — which is what organic growth looks like for it.
    val ev = spark.read.parquet(s"$src/events.parquet")
    (0 until reps).map { k =>
      if (k == 0) ev
      else ev.withColumn("event_id", $"event_id" + lit(k * OFF))
        .withColumn("user_id", $"user_id" + lit(k * OFF))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    // customer: disjoint key universes per replica; OFF is a multiple of
    // 100, so q306's key blocks (c_custkey div 100) stay ≤100 rows in
    // every replica — growth adds blocks, never densifies one.
    val cust = spark.read.parquet(s"$src/customer.parquet")
    (0 until reps).map { k =>
      if (k == 0) cust
      else cust.withColumn("c_custkey", $"c_custkey" + lit(k * OFF))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")

    println(s"wrote x$reps tables to $dst")
    spark.stop()
  }
}
