package graft.engine

import org.apache.spark.sql.{AnalysisException, Column, DataFrame,
  SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Cast,
  EvalMode, Expression, Literal, XxHash64}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding,
  UnwrapCastInBinaryComparison}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
  LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ClassicBridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** DATA SKIPPING, the one path from a predicate to a pruned read (guide
  * §6). Spark's own V1 filter translation turns a predicate into
  * `sources.Filter`s — the SQL scan receives them pushed, the WHERE
  * verbs get them from [[hints]] — and ONE rule ([[accept]]) folds
  * those into prune specs: zone-map `ranges` and dictionary/bloom/
  * manifest-name `values`. [[skipEntries]] is the pruning kernel over a
  * manifest, [[read]] the pruned read every reader shares.
  *
  * Soundness rests on two facts. A row where the predicate is TRUE
  * makes every top-level conjunct TRUE, so a partition a conjunct's
  * tier prunes provably holds no hit row. And every rendered value is
  * exactly what the sidecar writer recorded for that column
  * (`cast(col AS string)`), or no value hint exists: Spark's
  * translation refuses a cast on the column side (a narrowing cast
  * wraps, so its bound says nothing about the raw column), and float
  * and double literals render no value hint (`-0.0 = 0.0` in SQL, but
  * the two render differently). Stats are never a correctness gate: a
  * partition with no line in some tier is admitted by that tier, and
  * every reader re-applies a residual filter on the survivors. */
object Skipping {

  /** Prune specs: inclusive `(col, lo, hi)` zone-map ranges, and
    * `(col, wanted renderings)` equality/IN probes. */
  final case class Hints(ranges: Seq[(String, Long, Long)] = Nil,
                         values: Seq[(String, Seq[String])] = Nil) {
    def isEmpty: Boolean = ranges.isEmpty && values.isEmpty
    def ++(o: Hints): Hints = Hints(ranges ++ o.ranges, values ++ o.values)
  }

  /** Hints for a predicate over `df`, for the WHERE verbs. The
    * predicate is analyzed against `df`; then Catalyst's constant
    * folding and cast unwrapping run on the CONDITION alone (never on
    * the source plan), so a widening coercion cast (`cast(i AS bigint)
    * >= 950`) becomes a plain comparison on the column. Each AND
    * conjunct is then translated by Spark's V1 filter translation and
    * folded by [[accept]]. Anything that does not analyze or translate
    * contributes nothing. */
  def hints(df: DataFrame, pred: Column): Hints = {
    val analyzed =
      try df.where(pred).queryExecution.analyzed
      catch { case _: AnalysisException => return Hints() }
    analyzed match {
      case LFilter(cond, child) =>
        val simplified = scala.util.Try {
          Seq(ConstantFolding, UnwrapCastInBinaryComparison)
            .foldLeft(LFilter(cond, LocalRelation(child.output))
              : LogicalPlan)((p, rule) => rule(p))
            .asInstanceOf[LFilter].condition
        }.getOrElse(cond)
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        conjuncts(simplified).flatMap(ClassicBridge.translateFilter)
          .map(accept(_, tz)).foldLeft(Hints())(_ ++ _)
      case _ => Hints()
    }
  }

  /** Render a filter value EXACTLY as the sidecar writer rendered the
    * column: dictionaries and blooms record `cast(col AS string)` (and
    * manifest names hold Spark's own partition-value rendering), so the
    * probe goes through Spark's `Cast` in the session time zone —
    * `String.valueOf` disagrees for timestamps, and a rendering
    * mismatch is a false-negative prune. None withholds the probe: a
    * null, a float or double (SQL equality holds for `-0.0 = 0.0`,
    * their renderings differ), binary (the driver's string round trip
    * is lossy for non-UTF-8 bytes, the writer hashed the raw bytes), or
    * anything `Cast` cannot render. */
  private def render(v: Any, timeZone: String): Option[String] = v match {
    case null | _: java.lang.Float | _: java.lang.Double |
         _: Array[Byte] => None
    case s: String => Some(s)
    case other => scala.util.Try(Option(
      Cast(Literal(other), StringType, Some(timeZone)).eval(null))
      .map(_.toString)).toOption.flatten
  }

  private def longOf(v: Any): Option[Long] = v match {
    case i: java.lang.Integer => Some(i.longValue)
    case l: java.lang.Long => Some(l.longValue)
    case s: java.lang.Short => Some(s.longValue)
    case b: java.lang.Byte => Some(b.longValue)
    case _ => None
  }

  /** The one rule from a translated filter to prune specs: equality and
    * IN become value probes (IN all-or-nothing — probing a subset of
    * the list would prune a partition holding only an unrendered
    * value), integral comparisons and equalities become zone-map
    * ranges. Every other filter contributes nothing (both callers split
    * AND conjuncts before translating). */
  def accept(f: Filter, timeZone: String): Hints = f match {
    case EqualTo(c, v) =>
      Hints(longOf(v).map(n => (c, n, n)).toSeq,
            render(v, timeZone).map(s => (c, Seq(s))).toSeq)
    case In(c, vs) if vs != null && vs.nonEmpty =>
      val rendered = vs.toSeq.flatMap(render(_, timeZone))
      if (rendered.length == vs.length) Hints(values = Seq((c, rendered)))
      else Hints()
    case GreaterThan(c, v) =>
      Hints(longOf(v).filter(_ < Long.MaxValue)
        .map(n => (c, n + 1, Long.MaxValue)).toSeq)
    case GreaterThanOrEqual(c, v) =>
      Hints(longOf(v).map(n => (c, n, Long.MaxValue)).toSeq)
    case LessThan(c, v) =>
      Hints(longOf(v).filter(_ > Long.MinValue)
        .map(n => (c, Long.MinValue, n - 1)).toSeq)
    case LessThanOrEqual(c, v) =>
      Hints(longOf(v).map(n => (c, Long.MinValue, n)).toSeq)
    case _ => Hints()
  }

  /** The hash the bloom sidecar is keyed by, computed ON THE DRIVER for
    * the pruning probe: Spark's own `XxHash64` expression evaluated on
    * the string literal — bit-identical to the executor-side
    * `xxhash64(cast(col AS string))` the writer aggregated, because it
    * IS the same expression (default seed 42). */
  def bloomProbeHash(v: String): Long =
    new XxHash64(Seq(Literal(UTF8String.fromString(v), StringType)))
      .eval(null).asInstanceOf[Long]

  /** The PRUNING KERNEL: keep a manifest entry only if every tier with
    * an opinion admits it — range zone maps for the `ranges`,
    * dictionary + bloom for each `values` probe, plus the manifest NAME
    * itself for values on the partition column — the zeroth tier every
    * table format gets for free: `col=value` dir names ARE the
    * partition index. A partition with no line in some tier is
    * admitted by that tier. Tiers short-circuit cheapest-first, so a
    * partition the name/range/dict tiers pruned never deserializes its
    * bloom bitset (the [[LazyBloom]] contract — decoded driver heap is
    * O(survivors × probed columns), not O(all partitions)). */
  def skipEntries(man: Seq[(String, String)], h: Hints,
      stats: Map[String, Map[String, (Long, Long)]],
      dicts: Map[String, Map[String, Set[String]]],
      blooms: Map[String, Map[String, LazyBloom]])
      : Seq[(String, String)] = {
    val hashed = h.values.map { case (c, vals) =>
      (c, vals.map(bloomProbeHash)) }
    // the name tier is LAYOUT-AWARE (metadata-tier partition
    // evolution): an entry's own `col=` prefix says which spec wrote
    // it, so a value predicate on THAT column prunes by dir name while
    // entries of other layouts pass to the sidecar tiers — per-layout
    // pruning over a mixed manifest, Iceberg's spec-evolution read
    // shape
    val nameWanted = h.values.map { case (c, vals) =>
      (c, vals.map(x =>
        Versioned.partDirName(c, x).drop(c.length + 1)).toSet) }
    man.filter { case (n, _) =>
      val layout = n.takeWhile(_ != '=')
      def nameOk = !n.contains('=') ||
        nameWanted.forall { case (c, wantedVals) =>
          !layout.equalsIgnoreCase(c) ||
            wantedVals.contains(n.drop(layout.length + 1)) }
      def rangeOk = stats.get(n).forall { cols =>
        h.ranges.forall { case (c, lo, hi) =>
          cols.get(c).forall { case (slo, shi) => shi >= lo && slo <= hi }
        }
      }
      def dictOk = dicts.get(n).forall { cols =>
        h.values.forall { case (c, vals) =>
          cols.get(c).forall(set => vals.exists(set.contains))
        }
      }
      def bloomOk = blooms.get(n).forall { cols =>
        hashed.forall { case (c, hs) =>
          cols.get(c).forall(bf => hs.exists(bf.mightContainLong))
        }
      }
      nameOk && rangeOk && dictOk && bloomOk
    }
  }

  /** [[skipEntries]] over version `v`'s sidecars, loading a tier only
    * when it has predicates to answer. */
  def keep(s: SparkSession, dir: String, v: Long,
           man: Seq[(String, String)], h: Hints): Seq[(String, String)] =
    skipEntries(man, h,
      if (h.ranges.isEmpty) Map.empty else Versioned.readStatsMulti(s, dir, v),
      if (h.values.isEmpty) Map.empty else Versioned.readStatsDict(s, dir, v),
      if (h.values.isEmpty) Map.empty
      else Versioned.readStatsBloom(s, dir, v, Some(h.values.map(_._1).toSet)))

  /** A pruned read's kept entries and its frame, built on first use. */
  final class Pruned(val kept: Seq[(String, String)], build: => DataFrame) {
    lazy val frame: DataFrame = build
  }

  /** THE pruned read: the entries [[keep]] admits, read live (deletion
    * and update vectors apply), with the typed residual of every hint
    * applied inside the plan, so the result is exactly the filtered
    * table however much pruning bit. All entries pruned: the
    * empty-schema frame ([[Versioned.emptyFrame]]). */
  def read(s: SparkSession, dir: String, v: Long,
           man: Seq[(String, String)], partCol: Option[String],
           h: Hints): Pruned = {
    val kept = keep(s, dir, v, man, h)
    new Pruned(kept, {
      val base =
        if (kept.isEmpty) Versioned.emptyFrame(s, dir, man, partCol)
        else Versioned.readEntriesLive(s, dir, v, kept, partCol)
      val preds =
        h.ranges.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi } ++
          h.values.map { case (c, vals) => typedInResidual(base, c, vals) }
      if (preds.isEmpty) base else base.where(preds.reduce(_ && _))
    })
  }

  /** Type-aware equality/IN residual: cast the literal VALUES to the
    * column's type instead of casting the COLUMN to string, so the
    * predicate reaches parquet as a pushable `In(col, …)` DataFilter and
    * row-group stats skip inside the partitions the sidecars kept — a
    * cast-wrapped column is not a pushable parquet filter. Values that
    * cannot cast to the column's type (checked driver-side with TRY
    * semantics, so an ANSI session never throws) can match no row of
    * that type and are dropped; if none survive the residual is
    * `false`. String columns keep the plain isin. */
  private def typedInResidual(df: DataFrame, c: String,
                              vals: Seq[String]): Column = {
    val dt = df.schema.fields.find(_.name.equalsIgnoreCase(c))
      .map(_.dataType).getOrElse(StringType)
    if (dt == StringType) col(c).isin(vals: _*)
    else {
      val castable = vals.filter { v =>
        Cast(Literal(UTF8String.fromString(v), StringType), dt,
          Some("UTC"), EvalMode.TRY).eval(null) != null
      }
      if (castable.isEmpty) lit(false)
      else col(c).isin(castable.map(v => lit(v).cast(dt)): _*)
    }
  }
}
