package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.engine.{Skipping, Versioned}
import graft.ops.MergeOps

/** Round-17 wave: WHERE-verb probe pruning — the predicate forms'
  * find-touched probe (and the MOR update's image scan) route through
  * the shared three-tier skipping kernel (manifest names → zone maps →
  * dictionaries → blooms) BEFORE touching data, so a selective
  * predicate write scans candidate partitions, not the corpus. Hints
  * are extracted conservatively from the predicate's AND conjuncts;
  * anything not extractable leaves the probe exactly as before. */
class Wave56Spec extends SparkTestBase {

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.delete(); d.getAbsolutePath
  }

  /** Sum of task input records across every job `body` runs. */
  private def recordsRead(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(1000) }
    finally spark.sparkContext.removeSparkListener(l)
    acc.get()
  }

  test("Skipping.hints: simple AND conjuncts extract; derived exprs, " +
       "ORs, narrowing casts and rendering-unsafe literals decline") {
    val probe = spark.range(1).select(col("id").as("k"),
      col("id").cast("double").as("v"), col("id").cast("string").as("s"),
      col("id").cast("int").as("i"))
    val Skipping.Hints(r1, v1) = Skipping.hints(probe,
      col("k") >= 950 && col("v") > 1.5)
    assert(r1 == Seq(("k", 950L, Long.MaxValue)),
      s"integral conjunct must extract, double must not: $r1")
    assert(v1.isEmpty)
    val Skipping.Hints(r2, v2) = Skipping.hints(probe,
      col("s") === "x" && col("k") === 7)
    assert(v2.contains(("s", Seq("x"))) && v2.contains(("k", Seq("7"))))
    assert(r2.contains(("k", 7L, 7L)))
    // a disjunction admits everything — no conjunct is provable
    assert(Skipping.hints(probe, col("k") >= 5 || col("s") === "x").isEmpty)
    // a double comparison against a long column compares in DOUBLE
    // (the attribute side is cast non-integrally): no hint may leak
    assert(Skipping.hints(probe, col("k") > lit(5.0)).isEmpty)
    // reversed operand order flips the bound
    assert(Skipping.hints(probe, lit(10) > col("k")).ranges ==
      Seq(("k", Long.MinValue, 9L)))
    // IN is all-or-nothing
    assert(Skipping.hints(probe, col("s").isin("a", "b")).values ==
      Seq(("s", Seq("a", "b"))))
    // a widening coercion cast unwraps onto the column; a narrowing
    // cast wraps, so its bound says nothing about the raw column
    assert(Skipping.hints(probe, col("i") >= 950L).ranges ==
      Seq(("i", 950L, Long.MaxValue)))
    assert(Skipping.hints(probe, col("k").cast("int") > 5).isEmpty)
    // a double equality renders no value probe (-0.0 = 0.0)
    assert(Skipping.hints(probe, col("v") === 0.0).isEmpty)
  }

  test("DELETE WHERE: the probe scans only zone-map-admitted " +
       "partitions and the committed result is unchanged") {
    import spark.implicits._
    val dir = freshDir("graft_prunedel")
    // block layout: partition b holds keys [100b, 100b+99], so k >= 950
    // is provably confined to b=9 by the per-partition k bounds
    val data = (0L until 1000L).toDF("k")
      .withColumn("b", (col("k") / 100).cast("long"))
      .withColumn("v", col("k") * 2)
    MergeOps.mergeUpsert(spark, dir, data, "k", "b",
      statsKeys = Seq("k"))                                         // v1
    val read = recordsRead {
      MergeOps.mergeDeleteWhere(spark, dir, col("k") >= 950, "b",
        sortCol = Some("k"))                                        // v2
    }
    // pruned: probe (≤100 rows) + survivor restage (≤100) ≪ the
    // 1000-row corpus the unpruned probe scanned every time
    assert(read < 600,
      s"probe must scan only admitted partitions, read $read records")
    val left = MergeOps.readCorpus(spark, dir, "b")
    assert(left.count() == 950)
    assert(left.agg(max("k")).head.getLong(0) == 949L)
    // untouched partitions' entries carry verbatim
    val m1 = Versioned.manifest(spark, dir, 1L).toMap[String, String]
    val m2 = Versioned.manifest(spark, dir, 2L).toMap[String, String]
    assert((0 to 8).forall(b => m2(s"b=$b") == m1(s"b=$b")))
    // an all-pruned predicate publishes nothing (idempotent replay)
    MergeOps.mergeDeleteWhere(spark, dir, col("k") >= 950, "b")
    assert(Versioned.currentVersion(spark, dir).contains(2L),
      "a no-match DELETE WHERE replay must publish nothing")
  }

  test("UPDATE WHERE and MOR UPDATE: pruned probes, identical content") {
    import spark.implicits._
    val dir = freshDir("graft_pruneupd")
    val data = (0L until 1000L).toDF("k")
      .withColumn("b", (col("k") / 100).cast("long"))
      .withColumn("v", (col("k") * 2).cast("double"))
    MergeOps.mergeUpsert(spark, dir, data, "k", "b",
      statsKeys = Seq("k"))                                         // v1
    val read = recordsRead {
      MergeOps.mergeUpdateWhere(spark, dir, col("k") < 50,
        Seq("v" -> (col("v") + 1000.0)), "k", "b")                  // v2
    }
    assert(read < 600,
      s"UPDATE WHERE probe must scan only admitted partitions: $read")
    val got = MergeOps.readCorpus(spark, dir, "b")
      .where(col("k") < 50).agg(min("v"), max("v")).head
    assert(got.getDouble(0) == 1000.0 && got.getDouble(1) == 1098.0)
    assert(MergeOps.readCorpus(spark, dir, "b")
      .where(col("k") >= 50).agg(max("v")).head.getDouble(0) == 1998.0)
    // MOR update (uv sidecar, no restage): same pruning discipline;
    // the v2 restage dropped b=0's stats line, so the probe now admits
    // b=0 (no line → always read) plus nothing else for k < 20
    val read2 = recordsRead {
      MergeOps.mergeUpdateMor(spark, dir, col("k") < 20,
        Seq("v" -> lit(-1.0)), "k", "b")                            // v3
    }
    assert(read2 < 600,
      s"MOR UPDATE image scan must read only admitted partitions: $read2")
    val after = MergeOps.readCorpus(spark, dir, "b")
    assert(after.where(col("v") === -1.0).count() == 20)
    assert(after.count() == 1000)
  }
}
