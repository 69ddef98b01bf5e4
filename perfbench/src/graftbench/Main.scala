package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path => JPath, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One closed-loop client driving the engine through its public functions
  * and `spark.sql`. Sets up once, runs the workload's seeded op sequence
  * for a fixed number of seconds, and writes every raw sample as JSON for
  * `run.py` to check and summarise.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out json>
  */
object Main {
  final case class Op(i: Int, pass: Int, traced: Boolean, kind: String,
                      family: String, startMs: Double, endMs: Double,
                      ok: Boolean, err: String,
                      verbs: Seq[(String, Double, Int)],
                      extra: Map[String, Any],
                      fs: Map[String, Map[String, Long]])

  /** What an op reports back: its kind, family, per-call seconds and
    * nesting depth, and any values the checks need. */
  final class OpCtx(val i: Int, val tracer: Tracer) {
    var kind = ""
    var family = ""
    val verbs = mutable.ArrayBuffer.empty[(String, Double, Int)]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    private var depth = 0
    /** Time one call into a layer of the program. Depth-0 calls are the
      * client's blocking calls, the samples of op latency. */
    def call[T](layer: String, verb: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val d = depth
      depth += 1
      try tracer.span(layer, verb, i)(body)
      finally {
        depth = d
        verbs += ((verb, (System.nanoTime() - t0) / 1e9, d))
      }
    }
  }

  trait Workload {
    def passLen: Int
    /** Standing state the timed ops need (tables, streams). */
    def bootstrap(s: SparkSession): Unit
    def warmup(s: SparkSession): Unit
    def op(s: SparkSession, pass: Int, c: OpCtx): Unit
    /** Client work after op `c` that is not part of it: output checks
      * and the client's answers to what they find. Not timed or traced. */
    def afterOp(s: SparkSession, c: OpCtx): Unit = ()
    /** Stop what bootstrap started. */
    def teardown(s: SparkSession): Unit
    /** Values the checks need, gathered after the timed phase. */
    def finish(s: SparkSession): Map[String, Any]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val jit = ManagementFactory.getCompilationMXBean
    val plan = new ObjectMapper().readTree(
      Files.readString(Paths.get(work, "plan.json")))
    var spark: SparkSession = null
    val tracer = new Tracer(() => spark)
    val w: Workload = workload match {
      case "analytic_mix" => new AnalyticMix(work, seed)
      case "table_lifecycle" => new TableLifecycle(work, plan)
      case "llm_dedup" => new LlmDedup(work)
    }
    val dataDir = s"$work/data"

    def session(): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions",
          graft.engine.Scale.shufflePartitions(dataDir, cpus).toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/tmp")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
      val s = (if (trace) b.config("spark.hadoop.fs.file.impl",
          classOf[CountingFileSystem].getName) else b).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // ---- set-up: process start to the first timed op
    val t0 = System.nanoTime()
    spark = session()
    val t1 = System.nanoTime()
    w.bootstrap(spark)
    val t2 = System.nanoTime()
    w.warmup(spark)
    val t3 = System.nanoTime()
    settleJit()
    val t4 = System.nanoTime()
    val setupJitS = jit.getTotalCompilationTime / 1e3
    val setup = Map("jvm_s" -> (mainMs - jvmStartMs) / 1e3,
      "session_s" -> (t1 - t0) / 1e9, "bootstrap_s" -> (t2 - t1) / 1e9,
      "warmup_s" -> (t3 - t2) / 1e9, "jit_settle_s" -> (t4 - t3) / 1e9,
      "total_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3)

    // ---- timed phase: one client, closed loop, whole passes until the
    // time is up, so every run measures the same mix of ops; a pass's
    // wall time is the sum of its ops' times
    val heapMb = mutable.ArrayBuffer(liveHeapMb())
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // a traced run alternates untraced and traced passes after a first
    // untraced one, so the overhead compares passes run equally warm
    val minPasses = if (trace) 3 else 1
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs() = gcs.map(_.getCollectionTime).sum
    var gcTimedS = 0.0
    val tStart = System.nanoTime()
    def elapsed() = (System.nanoTime() - tStart) / 1e9
    var pass = 0
    var i = 0
    while (elapsed() < seconds || passes.size < minPasses) {
      val traced = trace && pass % 2 == 1
      if (traced) tracer.attach() else tracer.detach()
      val g0 = gcMs()
      var passS = 0.0
      var k = 0
      while (k < w.passLen) {
        val c = new OpCtx(i, tracer)
        tracer.currentOp = i
        spark.sparkContext.setJobGroup(s"op-$i", s"op $i", false)
        val f0 = FsCounts.snapshot()
        val t0 = tracer.nowMs()
        val err =
          try { tracer.span("bench", "op", i)(w.op(spark, pass, c)); "" }
          catch { case t: Throwable =>
            t.getClass.getSimpleName + ": " +
              String.valueOf(t.getMessage).linesIterator.take(1).mkString
                .take(300) }
        val t1 = tracer.nowMs()
        spark.sparkContext.clearJobGroup()
        val fs = FsCounts.delta(f0, FsCounts.snapshot())
        passS += (t1 - t0) / 1e3
        tracer.currentOp = -1
        if (err.isEmpty) w.afterOp(spark, c)
        ops += Op(i, pass, traced, c.kind, c.family, t0, t1, err.isEmpty,
          err, c.verbs.toSeq, c.extra.toMap, fs)
        i += 1; k += 1
      }
      gcTimedS += (gcMs() - g0) / 1e3
      passes += Map("pass" -> pass, "ops" -> k, "traced" -> traced,
        "wall_s" -> passS)
      heapMb += liveHeapMb()
      pass += 1
    }
    tracer.detach()
    val timedS = elapsed()
    val results =
      try w.finish(spark)
      catch { case t: Throwable =>
        Map("finish_error" -> (t.getClass.getSimpleName + ": " +
          String.valueOf(t.getMessage).linesIterator.take(1).mkString)) }
    w.teardown(spark)
    spark.stop()

    val raw = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup" -> setup, "setup_jit_s" -> setupJitS,
      "timed_s" -> timedS, "gc_timed_s" -> gcTimedS,
      "live_heap_mb" -> heapMb.toSeq,
      "passes" -> passes.toSeq,
      "ops" -> ops.map(o => Map(
        "i" -> o.i, "pass" -> o.pass, "traced" -> o.traced,
        "kind" -> o.kind, "family" -> o.family, "start_ms" -> o.startMs,
        "end_ms" -> o.endMs, "ok" -> o.ok, "err" -> o.err,
        "verbs" -> o.verbs.map { case (v, t, d) => Seq(v, t, d) },
        "extra" -> o.extra, "fs" -> o.fs)).toSeq,
      "spans" -> tracer.spans.map(s =>
        Seq(s.layer, s.name, s.op, s.startMs, s.endMs)).toSeq,
      "jobs" -> tracer.jobs.values.map(j => Map("id" -> j.id, "op" -> j.op,
        "group" -> j.group, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages)).toSeq,
      "stages" -> tracer.stages.map(st => Map("id" -> st.id,
        "tasks" -> st.tasks, "cpu_s" -> st.cpuS, "run_s" -> st.runS,
        "gc_s" -> st.gcS, "shuffle_write_b" -> st.shuffleWriteB,
        "shuffle_read_b" -> st.shuffleReadB, "input_b" -> st.inputB,
        "input_rows" -> st.inputRows,
        "skew" -> st.skew)).toSeq,
      "plans" -> tracer.plans.map(p => Map("op" -> p.op,
        "analysis_s" -> p.analysisS, "optimization_s" -> p.optimizationS,
        "planning_s" -> p.planningS, "start_ms" -> p.startMs,
        "end_ms" -> p.endMs)).toSeq,
      "epochs" -> tracer.epochs.map(e => Map("op" -> e.op,
        "start_ms" -> e.startMs, "dur_ms" -> e.durMs, "rows" -> e.rows)).toSeq,
      "results" -> results)
    Files.writeString(Paths.get(out), Json.render(raw))
  }

  /** Wait, at most 10 s, until the JIT has drained its compile queue (its
    * total compile time stops growing for half a second), so that set-up's
    * lazy work ends before timing starts instead of competing with the
    * first timed ops for the cores. */
  def settleJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val end = System.nanoTime() + 10000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < end) {
      last = jit.getTotalCompilationTime
      Thread.sleep(500)
    }
  }

  /** Old-generation bytes in use right after a full collection. */
  def liveHeapMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.find(p => p.getName.contains("Old Gen") ||
      p.getName.contains("Tenured"))
    old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      .toDouble / (1 << 20)
  }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally st.close()
    }
  }

  def family(name: String): String = name.takeWhile(_ != '_') match {
    case f @ ("agg" | "join" | "win" | "set") => f
    case _ => "other"
  }
}

/** Read-only declared map-reduce queries over the sf0.1-shaped tables. */
class AnalyticMix(work: String, seed: Long) extends Main.Workload {
  val names = Seq("agg_pricing_summary", "agg_count_distinct", "agg_rollup",
    "join_inner", "join_left_outer", "join_anti", "win_rownum_topk",
    "win_lag_lead", "win_running_sum", "set_intersect", "set_except", "sort_multi",
    "filter_pred", "topk_global", "sub_in", "ts_gapfill", "fn_string",
    "flatmap_explode", "map_project", "text_wordcount")
  private val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap
  val passLen = names.size
  private val data = s"$work/data"

  def bootstrap(s: SparkSession): Unit = ()
  def warmup(s: SparkSession): Unit =
    names.foreach(n => fns(n)(s, s"$work/data_small").count())
  def op(s: SparkSession, pass: Int, c: Main.OpCtx): Unit = {
    // each pass runs every query once, in a seeded order of its own
    val order = new scala.util.Random(seed * 7919 + pass).shuffle(names)
    val n = order(c.i % passLen)
    c.kind = n; c.family = Main.family(n)
    c.call("ops", n)(fns(n)(s, data).count())
  }
  def teardown(s: SparkSession): Unit = ()
  /** Each distinct query's output once, for the DuckDB oracle. */
  def finish(s: SparkSession): Map[String, Any] = {
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val errs = names.flatMap { n =>
      try { fns(n)(s, data).coalesce(1).write.mode("overwrite")
              .parquet(s"$work/out/$n"); None }
      catch { case t: Throwable => Some(n -> String.valueOf(t.getMessage)
        .linesIterator.take(1).mkString) }
    }.toMap
    Map("queries" -> names, "oracle_sql" -> names.flatMap(n =>
      graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "write_errors" -> errs)
  }
}

/** A versioned orders table under a seeded mix of writes, reads and
  * maintenance, mirrored through the change-feed stream. */
class TableLifecycle(work: String, plan: JsonNode) extends Main.Workload {
  import graft.engine.Versioned
  import graft.ops.MergeOps
  val passLen = 9
  private val Key = "o_orderkey"
  private val Part = "bucket"
  private val StatsKeys = Seq("o_orderkey", "o_custkey")
  private val DictKeys = Seq("o_orderstatus")
  private val Table = "lc_orders"
  private val planOps = plan.get("ops").elements.asScala.toIndexedSeq
  private var root = ""
  private def src = s"$root/$Table"
  private def dst = s"$root/mirror"
  private var q: org.apache.spark.sql.streaming.StreamingQuery = null
  private val versionAfter = mutable.HashMap.empty[Int, Long]
  private var commits = 0

  def bootstrap(s: SparkSession): Unit = {
    root = s"$work/run"
    val orders = s.read.parquet(s"$work/data/orders.parquet")
      .withColumn(Part, pmod(col(Key), lit(8)).cast("int"))
    MergeOps.mergeUpsert(s, src, orders, Key, Part, statsKeys = StatsKeys,
      dictKeys = DictKeys)
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    s.sql(s"ALTER TABLE graft.$Table SET TBLPROPERTIES('keyCol'='$Key')")
    // Versioned.vacuum sweeps an untagged version below its floor with
    // the props sidecar it carries, which drops keyCol and breaks every
    // later MERGE INTO. A tag keeps that version whole. Without this tag
    // the maintenance check (afterOp) fails on every vacuum.
    Versioned.tagVersion(s, src, "props", Versioned.currentVersion(s, src).get)
    graft.sql.GraftDml.install(s)
    q = graft.streaming.StreamOps.feedMirrorMaintenance(
        graft.streaming.StreamOps.feedStream(s, src, Key, Part, Some(0L)),
        dst, Key, Part)
      .option("checkpointLocation", s"$root/ck")
      .start()
    q.processAllAvailable()
  }

  /** Each write kind at full batch size and each read, content-neutral:
    * the writes rewrite rows with the values they already hold. */
  def warmup(s: SparkSession): Unit = {
    val same = s.read.parquet(s"$work/data/orders.parquet").limit(2000)
      .withColumn(Part, pmod(col(Key), lit(8)).cast("int"))
    MergeOps.mergeUpsert(s, src, same, Key, Part, statsKeys = StatsKeys,
      dictKeys = DictKeys)
    q.processAllAvailable()
    MergeOps.mergeUpdateWhere(s, src, col(Key).between(0L, 1500L),
      Seq("o_totalprice" -> col("o_totalprice")), Key, Part,
      statsKeys = StatsKeys, dictKeys = DictKeys)
    q.processAllAvailable()
    same.limit(1000).withColumn("del", lit(false))
      .createOrReplaceTempView("lc_batch")
    s.sql(MergeSql)
    q.processAllAvailable()
    digest(MergeOps.readCorpusSkipPruned(s, src, Part,
      ranges = Seq((Key, 0L, 1000L)), values = Seq("o_orderstatus" -> Seq("O"))))
    digest(Versioned.readVersion(s, src, 1L, Some(Part)))
    MergeOps.history(s, src, Part).collect()
    versionAfter(-1) = Versioned.currentVersion(s, src).get
  }

  private val MergeSql =
    s"""MERGE INTO graft.$Table t USING lc_batch b ON t.$Key = b.$Key
       |WHEN MATCHED AND b.del THEN DELETE
       |WHEN MATCHED THEN UPDATE SET o_custkey = b.o_custkey,
       |  o_orderstatus = b.o_orderstatus, o_totalprice = b.o_totalprice,
       |  o_orderdate = b.o_orderdate, o_orderpriority = b.o_orderpriority
       |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey,
       |  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
       |  bucket) VALUES (b.o_orderkey, b.o_custkey, b.o_orderstatus,
       |  b.o_totalprice, b.o_orderdate, b.o_orderpriority, b.bucket)
       |""".stripMargin

  private def digest(df: DataFrame): Map[String, Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum(col(Key)), lit(0L)),
        coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L)))
      .head()
    Map("rows" -> r.getLong(0), "key_sum" -> r.getLong(1),
        "cents_sum" -> r.getLong(2))
  }

  /** A write and the version it committed, then the mirror drain. */
  private def commit(c: Main.OpCtx)(body: => Unit): Unit = {
    versionAfter(c.i) = c.call("ops", "commit") {
      body
      c.call("engine", "current_version")(
        Versioned.currentVersion(c.tracer.spark(), src).getOrElse(-1L))
    }
    c.call("streaming", "freshness")(q.processAllAvailable())
    commits += 1
    c.extra("version") = versionAfter(c.i)
  }

  def op(s: SparkSession, pass: Int, c: Main.OpCtx): Unit = {
    require(c.i < planOps.size, s"plan has only ${planOps.size} ops")
    val p = planOps(c.i)
    c.kind = p.get("kind").asText
    c.family = c.kind
    def batch() = s.read.parquet(s"$work/batches/${c.i}.parquet")
    def lo = p.get("lo").asLong
    def hi = p.get("hi").asLong
    c.kind match {
      case "upsert" => commit(c)(c.call("ops", "merge_upsert")(
        MergeOps.mergeUpsert(s, src, batch(), Key, Part,
          statsKeys = StatsKeys, dictKeys = DictKeys)))
      case "delete_where" => commit(c)(c.call("ops", "merge_delete_where")(
        MergeOps.mergeDeleteWhere(s, src, col(Key).between(lo, hi), Part)))
      case "update_where" => commit(c)(c.call("ops", "merge_update_where")(
        MergeOps.mergeUpdateWhere(s, src, col(Key).between(lo, hi),
          Seq("o_totalprice" -> (col("o_totalprice") + 1.0)), Key, Part,
          statsKeys = StatsKeys, dictKeys = DictKeys)))
      case "sql_merge" =>
        batch().createOrReplaceTempView("lc_batch")
        commit(c)(c.call("sql", "merge_into")(s.sql(MergeSql)))
      case "maintain" =>
        commit(c) {
          if (p.get("method").asText == "zorder")
            c.call("ops", "compact")(MergeOps.compactZOrder(s, src, Part,
              (Key, "o_totalprice"), statsKeys = StatsKeys,
              dictKeys = DictKeys))
          else c.call("ops", "compact")(MergeOps.compactPartitions(s, src,
            Part, maxFilesPerPart = 1, sortCol = Some(Key)))
          c.call("engine", "vacuum")(Versioned.vacuum(s, src,
            keepVersions = p.get("keep").asInt))
        }
      case "read" =>
        val sts = p.get("status").elements.asScala.map(_.asText).toSeq
        c.extra("digest") = c.call("ops", "read_skip_pruned")(digest(
          MergeOps.readCorpusSkipPruned(s, src, Part,
            ranges = Seq((Key, lo, hi)), values = Seq("o_orderstatus" -> sts))))
      case "time_travel" =>
        val v = versionAfter.getOrElse(p.get("at_op").asInt,
          sys.error(s"op ${p.get("at_op").asInt} did not run"))
        c.extra("digest") = c.call("engine", "read_version")(
          digest(Versioned.readVersion(s, src, v, Some(Part))))
        c.extra("read_version") = v
      case "history" =>
        val h = c.call("ops", "history")(
          MergeOps.history(s, src, Part).collect())
        c.extra("history_versions") = h.length
        c.extra("digest") = Map("rows" -> h.last.getAs[Long]("n_rows"))
    }
  }

  /** Maintenance must keep the table's properties. When it loses the
    * merge key, the op's check fails (`run.py` counts it) and the client
    * declares the key again, untimed, so later SQL MERGEs can run. */
  override def afterOp(s: SparkSession, c: Main.OpCtx): Unit =
    if (c.kind == "maintain" &&
        !Versioned.tableProps(s, src, Versioned.currentVersion(s, src).get)
          .get("keyCol").contains(Key)) {
      c.extra("props_lost") = "keyCol"
      s.sql(s"ALTER TABLE graft.$Table SET TBLPROPERTIES('keyCol'='$Key')")
      q.processAllAvailable()
    }

  def teardown(s: SparkSession): Unit = if (q != null) { q.stop(); q = null }

  def finish(s: SparkSession): Map[String, Any] = {
    q.processAllAvailable()
    val cur = Versioned.readCurrent(s, src, Some(Part))
    val plain = s"$work/plain"
    cur.write.mode("overwrite").parquet(plain)
    Map("source" -> digest(cur),
      "mirror" -> digest(Versioned.readCurrent(s, dst, Some(Part))),
      "versions_at_end" -> Versioned.currentVersion(s, src).getOrElse(-1L),
      "commits" -> commits,
      "table_bytes" -> Main.dirBytes(src),
      "plain_bytes" -> Main.dirBytes(plain),
      "table_files" -> countFiles(src),
      "metadata_bytes" -> (Main.dirBytes(src) - dataBytes(src)))
  }

  private def files(dir: String): Seq[JPath] = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator.asScala.filter(Files.isRegularFile(_)).toList
    finally st.close()
  }
  private def countFiles(dir: String): Long = files(dir).size.toLong
  private def dataBytes(dir: String): Long =
    files(dir).filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum
}

/** Corpus cleaning: normalize/quality, exact, minhash and substring dedup,
  * both ANN steps, then tf-idf — each step's output written out. */
class LlmDedup(work: String) extends Main.Workload {
  import graft.ops._
  private val steps: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "text_normalize" -> TextOps.textNormalize _,
    "text_quality" -> TextOps.textQuality _,
    "dedup_exact" -> SimOps.dedupExact _,
    "dedup_minhash" -> SimOps.dedupMinhash _,
    "dedup_substring" -> RetrievalOps.dedupSubstring _,
    "dedup_embedding_ann" -> SimOps.dedupEmbeddingAnn _,
    "sim_cosine_topk_ann" -> SimOps.simCosineTopkAnn _,
    "text_tfidf" -> TextOps.textTfidf _)
  val passLen = steps.size

  def bootstrap(s: SparkSession): Unit = ()
  /** Every step once on a quarter of the corpus. */
  def warmup(s: SparkSession): Unit =
    steps.foreach { case (name, f) => f(s, s"$work/corpus_small").write
      .mode("overwrite").parquet(s"$work/warm/$name") }
  def op(s: SparkSession, pass: Int, c: Main.OpCtx): Unit = {
    val (name, f) = steps(c.i % passLen)
    c.kind = name; c.family = name
    c.call("ops", name)(f(s, s"$work/corpus").write.mode("overwrite")
      .parquet(s"$work/out/$name"))
  }
  def teardown(s: SparkSession): Unit = ()
  def finish(s: SparkSession): Map[String, Any] = Map.empty
}

/** Minimal JSON rendering for the raw sample file. */
object Json {
  def render(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
