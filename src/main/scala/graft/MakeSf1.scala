package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize an sf1-scale dataset (~10× sf0.1) by structure-preserving
  * replication of the driver's sf0.1 tables — the scaling-measurement
  * input VERDICT r7 task 1 asks for. The driver's generator is not
  * available here, so each fact table is replicated `reps`× with
  * disjoint id ranges, transformed so the STRUCTURE the heavy operators
  * depend on scales the way a real corpus does (more clusters, not
  * bigger ones; more users, not longer histories):
  *
  *  - documents: ids shift by r·stride; for r>0 every token gets a
  *    replica suffix — a BIJECTIVE token rename, so within-replica
  *    shingle-set Jaccard (the near-dup cluster structure d2/d4/d8/d28
  *    mine) is EXACTLY the original's, while cross-replica similarity
  *    is zero: 10× docs ⇒ 10× near-dup clusters of unchanged size.
  *  - embeddings: ids shift; each replica's vectors are COORDINATE-
  *    ROTATED by r positions — a permutation is an isometry, so every
  *    within-replica distance is exactly preserved and cross-replica
  *    cosine decorrelates; labels shift to r·10+label so IVF cell
  *    SIZES stay constant (10× cells).
  *  - orders/lineitem: orderkeys shift together (FK-consistent 10×
  *    facts over the same dimensions — dims broadcast anyway).
  *  - events: event ids and user ids shift — 10× users with unchanged
  *    per-user history length, which is how event data actually grows.
  *  - dimensions (region nation customer supplier part): copied as-is.
  *
  * For reps > 64 (sf10 = 100 reps, VERDICT r9 task 2) the embedding
  * isometry extends: rotate by r mod 64 and NEGATE every coordinate
  * when (r div 64) is odd — negation is an isometry too, and two
  * replicas sharing a rotation amount then sit at cosine −1 from each
  * other (never a spurious near-duplicate under the positive
  * thresholds every s-query uses).
  *
  * Usage: runMain graft.MakeSf1 [srcDir] [dstDir] [reps] [stride]
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    // divisible by the small moduli queries use; override when composing
    // (a second 10x pass over an sf1 output needs a 100M stride)
    val stride = args.lift(3).map(_.toLong).getOrElse(10000000L)
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rep(table: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val out = (0 until reps).map(r => f(base, r)).reduce(_ unionByName _)
      out.repartition(32).write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"$table: ${out.columns.mkString(",")}")
    }

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    rep("orders") { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * stride))
    }
    rep("lineitem") { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * stride))
    }
    rep("events") { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * stride))
        .withColumn("user_id", col("user_id") + lit(r * stride))
    }
    rep("documents") { (df, r) =>
      val text =
        if (r == 0) col("text")
        else array_join(transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"~$r"))), " ")
      // source is the d4-family BLOCKING key: it must scale in COUNT
      // (10× blocks of unchanged size), not in size — otherwise the
      // Σm² verify joins grow quadratically instead of linearly
      val src0 = if (r == 0) col("source")
        else concat(col("source"), lit(s"~$r"))
      df.withColumn("doc_id", col("doc_id") + lit(r * stride))
        .withColumn("text", text)
        .withColumn("source", src0)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    rep("embeddings") { (df, r) =>
      val d = 64
      val rot = r % d
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, d - rot),
          slice(col("embedding"), 1, rot))
      val emb =
        if ((r / d) % 2 == 0) rotated
        else transform(rotated, x => negate(x))
      df.withColumn("vec_id", col("vec_id") + lit(r * stride))
        .withColumn("embedding", emb)
        .withColumn("label", (col("label") + lit(r * 10)).cast("int"))
    }
    println(s"sf1 written to $dst")
    spark.stop()
  }
}
