package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.sinks.{GraftFileIndex, SnapshotStore}

/** Read-outs of the store's own metadata: manifests, stats sidecars,
  * table properties and the files under a table root. */
object StoreProbe {
  def tip(ctx: Ctx, root: String): Long =
    SnapshotStore.currentVersion(ctx.spark, root).getOrElse(0L)

  /** The rider error ledger (`graft.maintenance.lastError`), if set. */
  def ledger(ctx: Ctx, root: String): Option[String] =
    SnapshotStore.tablePropertiesMap(ctx.spark, root)
      .get(SnapshotStore.MaintenanceErrorProp).filter(_.nonEmpty)

  /** Checks the ledger is empty after a commit. */
  def checkLedger(ctx: Ctx, root: String, after: String): Unit = {
    val l = ledger(ctx, root)
    ctx.check(l.isEmpty, s"rider error ledger set after $after: ${l.getOrElse("")}".take(300))
  }

  private def tree(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(tree) else Iterator(f)

  /** Bytes under the table root ÷ bytes of the files live at the tip. */
  def spaceAmp(ctx: Ctx, root: String): Double = {
    val live = SnapshotStore.manifest(ctx.spark, root, tip(ctx, root))
      .map(e => new File(root, e.path).length).sum
    tree(new File(root)).map(_.length).sum.toDouble / math.max(1L, live)
  }

  /** Commit- and rider-layer counters for the versions published since
    * `before`: manifests diffed against `before`, sizes and rows from
    * the tip's stats sidecar, sidecar bytes from the manifests dir. */
  def recordCommit(ctx: Ctx, op: Int, root: String, before: Long): Unit = {
    val t = ctx.trace
    val now = tip(ctx, root)
    val was = if (before > 0) SnapshotStore.manifest(ctx.spark, root, before).map(_.path).toSet
      else Set.empty[String]
    val is = SnapshotStore.manifest(ctx.spark, root, now).map(_.path).toSet
    val added = is -- was
    val stats = SnapshotStore.statsFor(ctx.spark, root, now)
    val addedStats = added.toSeq.flatMap(stats.get)
    val rows = addedStats.map(_.rows).sum
    t.count(op, "commit.versions_published", (now - before).toDouble)
    t.count(op, "commit.files_added", added.size.toDouble)
    t.count(op, "commit.files_removed", (was -- is).size.toDouble)
    t.count(op, "commit.bytes_added", addedStats.map(_.len).sum.toDouble)
    t.count(op, "commit.rows_added", rows.toDouble)
    val newVersions = (before + 1) to now
    t.count(op, "riders.property_commits", newVersions.count(v =>
      SnapshotStore.manifestOperation(ctx.spark, root, v).exists(o =>
        o.contains("propert") || o.contains("analyze"))).toDouble)
    val sidecars = Option(new File(root, "manifests").listFiles).toSeq.flatten.filter { f =>
      val n = f.getName
      (n.endsWith(".stats") || n.endsWith(".bloom")) &&
        scala.util.Try(n.stripPrefix("v_").takeWhile(_.isDigit).toLong).toOption
          .exists(_ > before)
    }
    t.count(op, "riders.sidecar_bytes", sidecars.map(_.length).sum.toDouble)
    t.count(op, "riders.errors", if (ledger(ctx, root).isDefined) 1.0 else 0.0)
  }
}

/** Runs one read and, when tracing, splits it into planning and
  * execution and records what planning kept: the query's phase times
  * from `queryExecution.tracker`, and the candidate and total files of
  * every `GraftFileIndex` scan in the executed plan. */
object ReadProbe extends AdaptiveSparkPlanHelper {
  def collect(ctx: Ctx, op: Int, build: => DataFrame): Array[Row] = {
    val t = ctx.trace
    if (!t.enabled) build.collect()
    else {
      val df = t.span(op, "read.plan", "sinks.read") {
        val d = build
        d.queryExecution.executedPlan
        d
      }
      val rows = t.span(op, "read.exec", "sinks.read")(df.collect())
      val phases = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        t.count(op, s"read.phase_ms.$p", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
      val idx = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.relation.location
      }.collect { case g: GraftFileIndex => g }
      t.count(op, "read.files_planned", idx.map(_.lastCandidateFiles).sum.toDouble)
      t.count(op, "read.files_total", idx.map(_.totalFiles).sum.toDouble)
      rows
    }
  }
}
