package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Counts evaluations of the bootstrap batch below (local mode: the
  * executor tasks run in this JVM). */
object Wave57Counter {
  val evaluated = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Data skipping through one path ([[graft.engine.Skipping]]): the
  * pruning faults of the two hand-written extractors it replaced, and
  * the table-metadata and bootstrap faults fixed beside it. */
class Wave57Spec extends SparkTestBase {

  // ONE catalog root for every spec (Spark caches the catalog instance
  // at first use), distinct table names per test
  private val rootDir =
    new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath

  private def freshTable(tbl: String): String = {
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", rootDir)
    dir
  }

  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("DELETE WHERE on a narrowing cast (ANSI off) removes every hit " +
       "row: the wrapped bound prunes nothing") {
    import spark.implicits._
    val dir = freshTable("graft_w57_narrow")
    // b=1 and b=2 hold longs that wrap to the ints 6 and 10 — hits of
    // cast(k AS int) > 5 whose raw values sit far below 6
    val data = Seq((1L, 0L), (2L, 0L), (3L, 0L),
        (-4294967290L, 1L), (-4294967286L, 2L))
      .toDF("k", "b")
    MergeOps.mergeUpsert(spark, dir, data, "k", "b", statsKeys = Seq("k"))
    withAnsi(on = false) {
      MergeOps.mergeDeleteWhere(spark, dir, col("k").cast("int") > 5, "b")
    }
    assert(MergeOps.readCorpus(spark, dir, "b").select("k").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
  }

  test("SQL WHERE v = 0.0 returns the -0.0 row of a dictionary column") {
    import spark.implicits._
    val tbl = "graft_w57_negzero"
    val dir = freshTable(tbl)
    val data = Seq((1L, -0.0, "a"), (2L, 1.5, "b")).toDF("k", "v", "p")
    MergeOps.mergeUpsert(spark, dir, data, "k", "p", dictKeys = Seq("v"))
    val plain = MergeOps.readCorpus(spark, dir, "p").where(col("v") === 0.0)
      .select("k").as[Long].collect().toSeq
    assert(plain == Seq(1L), "SQL equality holds for -0.0 = 0.0")
    assert(spark.sql(s"SELECT k FROM graft.$tbl WHERE v = 0.0")
      .as[Long].collect().toSeq == plain)
  }

  test("vacuum keeps the newest table properties below the floor: " +
       "keyCol survives and MERGE INTO still runs") {
    import spark.implicits._
    val tbl = "graft_w57_props"
    val dir = freshTable(tbl)
    def batch(lo: Long) = (lo until lo + 4L).map(k => (k, k * 10, k % 2))
      .toDF("k", "v", "p")
    MergeOps.mergeUpsert(spark, dir, batch(0L), "k", "p")           // v1
    spark.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='k')")                            // v2
    (1 to 3).foreach(i =>
      MergeOps.mergeUpsert(spark, dir, batch(i * 10L), "k", "p"))   // v3-v5
    Versioned.vacuum(spark, dir, keepVersions = 1)
    val cur = Versioned.currentVersion(spark, dir).get
    assert(Versioned.tableProps(spark, dir, cur).get("keyCol")
      .contains("k"))
    graft.sql.GraftDml.install(spark)
    Seq((1L, 999L, 1L), (100L, 7L, 0L)).toDF("k", "v", "p")
      .createOrReplaceTempView("w57_src")
    spark.sql(s"""MERGE INTO graft.$tbl t USING w57_src s
                 |ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT v FROM graft.$tbl WHERE k IN (1, 100) " +
      "ORDER BY k").as[Long].collect().toSeq == Seq(999L, 7L))
  }

  test("a constrained bootstrap evaluates its batch once: the check " +
       "and the write see the same rows") {
    val dir = freshTable("graft_w57_boot")
    val counted = udf { (x: Long) =>
      Wave57Counter.evaluated.incrementAndGet(); x
    }.asNondeterministic()
    val batch = spark.range(0, 10, 1, 2)
      .select(counted(col("id")).as("k"), (col("id") % 2).as("p"))
    Wave57Counter.evaluated.set(0L)
    MergeOps.mergeUpsert(spark, dir, batch, "k", "p",
      constraints = Seq("k_nonneg" -> (col("k") >= 0)))
    assert(Wave57Counter.evaluated.get() == 10L,
      s"batch rows evaluated ${Wave57Counter.evaluated.get()} times")
    assert(MergeOps.readCorpus(spark, dir, "p").count() == 10L)
  }
}
