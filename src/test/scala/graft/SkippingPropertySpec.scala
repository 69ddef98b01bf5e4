package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.{Skipping, Versioned}
import graft.ops.MergeOps
import graft.sql.GraftScanObservable

/** Differential property for data skipping ([[graft.engine.Skipping]]):
  * generated typed predicates over a small corpus carrying zone-map,
  * dictionary and bloom sidecars must give the same rows through every
  * pruned path as the unpruned filter — the SQL scan, and the WHERE
  * verbs' pruned probe (checked through `mergeDeleteWhere`, whose
  * result must be the corpus minus the filter). Runs with ANSI off so
  * narrowing casts wrap instead of failing. */
class SkippingPropertySpec extends SparkTestBase {

  private val rootDir =
    new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath
  private val tbl = "graft_skip_prop"
  private val dir = new java.io.File(rootDir, tbl).getAbsolutePath

  private def fsOf(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Partitions by value shape, so the zone maps, dictionaries and
    * blooms really prune: p=0 small longs, p=1 and p=2 longs that wrap
    * to small ints (narrow raw bounds far from their wrapped values),
    * p=3 the Long boundaries, p=4 nulls and mid values. */
  private def writeCorpus(): Unit = {
    import spark.implicits._
    val rows = Seq[(Long, Int, Option[Long], Option[Int], Option[Double],
                    Option[String], Option[String])](
      (1, 0, Some(-1L), Some(1), Some(-0.0), Some("a"), Some("2020-01-01")),
      (2, 0, Some(0L), Some(2), Some(2.5), Some("b"), Some("2020-01-02")),
      (3, 0, Some(5L), Some(3), Some(-0.0), Some("a"), Some("2020-01-01")),
      (4, 0, Some(7L), Some(6), Some(2.5), Some("b"), None),
      (5, 1, Some(4294967301L), Some(950), Some(0.0), Some("c"),
        Some("2021-06-30")),
      (6, 1, Some(4294967306L), Some(1000), Some(1.5), Some("c"),
        Some("2021-06-30")),
      (7, 1, Some(4294967295L), Some(2147483647), Some(0.0), Some("x"),
        Some("2021-07-01")),
      (8, 2, Some(-4294967290L), Some(-2147483648), Some(1.5), Some("x"),
        Some("2019-12-31")),
      (9, 2, Some(-4294967286L), Some(-5), Some(-1.0), Some("y"),
        Some("2019-12-31")),
      (10, 2, Some(-4294967297L), Some(0), Some(-1.0), Some("y"),
        Some("2020-01-02")),
      (11, 3, Some(Long.MinValue), Some(100), Some(-0.0), Some("b"),
        Some("2022-02-02")),
      (12, 3, Some(Long.MaxValue), None, Some(1.5), Some("y"),
        Some("2022-02-02")),
      (13, 3, Some(Long.MinValue + 1), Some(7), None, None,
        Some("2022-02-03")),
      (14, 4, None, None, None, None, None),
      (15, 4, Some(100L), Some(8), Some(Double.NaN), Some("a"),
        Some("2022-02-02")),
      (16, 4, Some(200L), Some(9), Some(0.0), None, Some("2020-01-02")))
    val df = rows.toDF("id", "p", "k", "i", "d", "s", "dts")
      .withColumn("dt", col("dts").cast("date")).drop("dts")
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    MergeOps.mergeUpsert(spark, dir, df, "id", "p",
      statsKeys = Seq("k", "i"), dictKeys = Seq("d", "s", "dt"),
      bloomKeys = Seq("k", "s"))
  }

  private val longLits = Seq("-9223372036854775808L",
    "-9223372036854775807L", "-4294967290L", "-1L", "0L", "5L", "6L",
    "100L", "2147483647L", "4294967295L", "4294967306L",
    "9223372036854775806L", "9223372036854775807L")
  private val intLits = Seq("-2147483648", "-5", "0", "5", "6", "10",
    "950", "2147483647")
  private val ops = Seq("=", "<", "<=", ">", ">=", "<>")

  private val atom: Gen[String] = Gen.oneOf(
    for (o <- Gen.oneOf(ops); l <- Gen.oneOf(longLits)) yield s"k $o $l",
    // narrowing: the comparison holds on the WRAPPED value
    for (o <- Gen.oneOf(ops); l <- Gen.oneOf(intLits))
      yield s"CAST(k AS INT) $o $l",
    // widening: an int column against bigint literals
    for (o <- Gen.oneOf(ops); l <- Gen.oneOf(longLits)) yield s"i $o $l",
    for (o <- Gen.oneOf(ops); l <- Gen.oneOf(intLits))
      yield s"CAST(i AS BIGINT) $o $l",
    for (l <- Gen.oneOf("0.0D", "-0.0D", "1.5D", "double('NaN')"))
      yield s"d = $l",
    Gen.oneOf("d IN (0.0D, 2.5D)", "d < 0.0D", "d >= -0.0D"),
    Gen.oneOf("s = 'a'", "s = 'x'", "s IN ('a', NULL)", "s IN ('b', 'y')",
      "s IS NULL", "s <> 'a'", "k IN (5L, NULL, 4294967306L)",
      "k IN (9223372036854775807L, -1L)", "k = NULL"),
    Gen.oneOf("dt = DATE'2020-01-02'", "dt >= DATE'2021-06-30'",
      "dt IN (DATE'2019-12-31', NULL)", "dt < DATE'2020-01-01'"),
    Gen.oneOf("p = 2", "p IN (1, 3)", "p > 1"))

  private val pred: Gen[String] = Gen.frequency(
    2 -> atom,
    2 -> Gen.choose(2, 3).flatMap(n => Gen.listOfN(n, atom))
      .map(_.mkString("(", ") AND (", ")")),
    1 -> Gen.listOfN(2, atom).map(_.mkString("(", ") OR (", ")")),
    1 -> atom.map(a => s"NOT ($a)"))

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("id").cast("long")).collect().map(_.getLong(0)).toSet

  /** The reference: Catalyst's own evaluation of the predicate over the
    * whole table. Parquet filter pushdown is off for it, because
    * parquet's row-group filter drops 0.0 rows for a pushed `d = -0.0`
    * (Spark SQL's `=` holds for `-0.0 = 0.0`). */
  private def unpruned(table: String, p: String): Set[Long] =
    withConf("spark.sql.parquet.filterPushdown", "false") {
      ids(MergeOps.readCorpus(spark, table, "p").where(expr(p)))
    }

  test("pruned reads and the WHERE-verb probe equal the unpruned filter " +
       "on generated typed predicates") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", rootDir)
    withConf("spark.sql.ansi.enabled", "false") {
      writeCorpus()
      val man = Versioned.manifest(spark, dir, 1L)
      val all = ids(MergeOps.readCorpus(spark, dir, "p"))
      val params = Gen.Parameters.default
      val cases = (0 until 30).flatMap(i =>
        pred.apply(params, Seed(57L + i)).toSeq)
      assert(cases.size >= 25)
      var sqlPruned = 0
      var verbHinted = 0
      cases.foreach { p =>
        val want = unpruned(dir, p)
        GraftScanObservable.lastKeptDirs = Nil
        val got = ids(spark.sql(s"SELECT id FROM graft.$tbl WHERE $p"))
        assert(got == want, s"SQL scan differs on [$p]")
        if (GraftScanObservable.lastKeptDirs.size < man.size) sqlPruned += 1
        // the WHERE verb on a copy of the corpus
        val copy = s"$dir.del"
        val fs = fsOf(dir)
        fs.delete(new org.apache.hadoop.fs.Path(copy), true)
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(dir), fs,
          new org.apache.hadoop.fs.Path(copy), false,
          spark.sparkContext.hadoopConfiguration)
        if (!Skipping.hints(MergeOps.readCorpus(spark, copy, "p"), expr(p))
              .isEmpty)
          verbHinted += 1
        val deleted = scala.util.Try(
          MergeOps.mergeDeleteWhere(spark, copy, expr(p), "p"))
        if (want == all)
          assert(deleted.isFailure, s"emptying delete must fail on [$p]")
        else {
          assert(deleted.isSuccess, s"delete failed on [$p]: $deleted")
          assert(ids(MergeOps.readCorpus(spark, copy, "p")) == all -- want,
            s"DELETE WHERE differs on [$p]")
        }
      }
      assert(sqlPruned > 0 && verbHinted > 0,
        s"some cases must prune: sql $sqlPruned, verb $verbHinted")
    }
  }
}
