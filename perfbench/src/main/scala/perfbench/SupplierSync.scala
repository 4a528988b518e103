package perfbench

import org.apache.spark.sql.functions._

import graft.pipeline.{ETLResult, Pipeline, SupplierConfig}
import graft.sinks.{SnapshotStats, SnapshotStore}

/** Four synthetic suppliers each resend their full nested catalog every
  * round; `Pipeline.runFullSync` merges each into one snapshot table
  * partitioned by `supplier_id`, one supplier after another. One op is
  * one round and two follow-ups, each timed on its own:
  *  - the storefront looks up one product the round just landed, by SQL
  *    on `GraftCatalog`: the first read of the landing table's new tip,
  *    whose manifest nothing has parsed yet (the metadata-cache miss);
  *  - the operator fixes one product's price with SQL `UPDATE` in the
  *    storefront table (built from the landing table, post-commit
  *    riders on: auto-bloom on `product_id`, auto-analyze) and reads it
  *    back. The riders parse the version they publish, so the read-back
  *    plans a cached version (the hit path).
  * The gated figures (per-supplier latency, products per second) time
  * the round alone; one fix per round is an arbitrary mix, chosen so
  * the commit, rider, parser and read layers are loaded in every op.
  *
  * The suppliers do not sync concurrently. The store publishes a
  * version by `FileContext.rename(..., Rename.NONE)`, which on the local
  * file system checks the destination and then renames, and moves the
  * manifest and its `.crc` checksum as two files. Writers racing for a
  * version can leave one writer's checksum beside another's manifest,
  * and that version can no longer be read. Four concurrent merges into
  * one table hit this in 2 of about 75 runs, so the round runs the
  * suppliers in turn until the publish is atomic.
  *
  * The riders sit on the storefront table, not the landing table, so a
  * round times the merges alone and the riders show on the UPDATE. */
final class SupplierSync extends Main.Workload {
  val perSupplier = 1000
  /** Distinct rounds generated; later rounds cycle through them. */
  val rounds = 2
  /** Five rounds: twenty per-supplier latencies, ten beyond the median. */
  override val minSamples = 20

  /** Feeds (rebuilt by every set-up) and tables (built by the warmup). */
  private var feedDir = ""
  private var tableDir = ""
  private def feed(s: String, r: Int) = s"$feedDir/supplier=$s/round=$r"
  private def sink = s"$tableDir/sink"
  private def storefront = s"$tableDir/storefront"
  private def table = s"graft.`$storefront`"
  /** (supplier, round) → (rows in the feed, rows the error channel must reject). */
  private var expected = Map.empty[(String, Int), (Long, Long)]
  /** Per round: (product id, price) of every product valid in it, as
    * the landing table holds them after that round. */
  private var landed = Map.empty[Int, IndexedSeq[(String, Double)]]
  /** Product ids in the storefront table (the ones the operator edits). */
  private var storefrontIds = IndexedSeq.empty[String]
  /** Rounds run so far, in order (the warmup's first). */
  private val ran = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var rng = new scala.util.Random(0)
  private var statements = Seq.empty[String]
  private var tipsBefore = Seq.empty[Long]

  def setup(ctx: Ctx): Unit = {
    feedDir = s"${ctx.dir("input")}/feeds"
    Catalog.register()
    val base = Catalog.products(ctx.spark, ctx.sfDir, perSupplier)
    ctx.step("feeds")((0 until rounds).map(r => Catalog.roundFeed(base, ctx.seed, r, rounds))
      .reduce(_ unionByName _)
      .write.partitionBy("supplier", "round").parquet(feedDir))
    val feeds = ctx.spark.read.parquet(feedDir)
    expected = feeds.groupBy(col("supplier"), col("round"))
      .agg(count(lit(1)), sum(when(col("title").isNull, 1).otherwise(0)))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    landed = feeds.filter(col("title").isNotNull)
      .select(col("round"), concat(col("supplier"), lit("-"), col("item_code").cast("string")),
        col("list_price"))
      .collect().toIndexedSeq.groupBy(_.getInt(0))
      .map { case (r, rows) => r -> rows.map(x => x.getString(1) -> x.getDouble(2)).sortBy(_._1) }
    rng = new scala.util.Random(ctx.seed)
  }

  private def run(ctx: Ctx, r: Int): Seq[ETLResult] = {
    val results = Catalog.suppliers.map(s =>
      Pipeline.runFullSync(ctx.spark, Seq(SupplierConfig(s, feed(s, r))), sink, atomicSink = true).head)
    ran += r
    results.foreach { res =>
      val (rows, bad) = expected((res.supplier, r))
      ctx.check(res.status != "failed" && res.processed == rows && res.errors == bad &&
        res.success == rows - bad,
        s"round $r ${res.supplier}: ${res.status} processed=${res.processed}/$rows " +
          s"errors=${res.errors}/$bad ${res.errorSamples.headOption.getOrElse("")}".take(300))
    }
    results
  }

  private def sql(ctx: Ctx, stmt: String) = {
    statements :+= stmt
    ctx.spark.sql(stmt).collect()
  }

  /** One timed point read of `root` by SQL; checks it returns (k, p). */
  private def lookup(ctx: Ctx, op: Int, kind: String, root: String, k: String, p: Double): Unit = {
    val q = s"SELECT product_id, price FROM graft.`$root` WHERE product_id = '$k'"
    statements :+= q
    val (rows, ms) = Main.timed(ReadProbe.collect(ctx, op, ctx.spark.sql(q)))
    ctx.sample(kind, ms)
    val got = rows.map(row => row.getString(0) -> row.getDouble(1)).toSeq
    ctx.check(got == Seq(k -> p), s"$kind of $k, want price $p: $got")
  }

  /** The follow-ups of round `r`: the storefront's first lookup on the
    * landing table's new tip, then the operator's fix and its
    * read-back. Each table's rider error ledger is checked after its
    * reads, so no probe parses a version before the read that plans it. */
  private def followUp(ctx: Ctx, op: Int, r: Int): Unit = {
    val (k, p) = landed(r)(rng.nextInt(landed(r).size))
    lookup(ctx, op, "fresh_read", sink, k, p)
    StoreProbe.checkLedger(ctx, sink, s"sync round $r")
    val e = storefrontIds(rng.nextInt(storefrontIds.size))
    val ep = (50000 + rng.nextInt(200000)) / 100.0
    val (_, ms) = Main.timed(ctx.trace.span(op, "commit.dml", "sinks.commit")(
      sql(ctx, s"UPDATE $table SET price = $ep WHERE product_id = '$e'")))
    ctx.sample("edit", ms)
    lookup(ctx, op, "edit_read", storefront, e, ep)
    StoreProbe.checkLedger(ctx, storefront, s"UPDATE after round $r")
  }

  def warmup(ctx: Ctx): Unit = {
    tableDir = ctx.dir("tables")
    run(ctx, 0)
    // The storefront: the first round's first supplier, range-laid by
    // product id (so point reads can skip files), with riders on,
    // analyzed once so auto-analyze has statistics to refresh.
    val first = SnapshotStore.read(ctx.spark, sink)
      .filter(col("supplier_id") === Catalog.suppliers.head)
      .repartitionByRange(8, col("product_id"))
    SnapshotStore.commit(ctx.spark, first, storefront, "supplier_id", properties = Some(Seq(
      SnapshotStore.AutoBloomProp -> "product_id", SnapshotStore.AutoAnalyzeProp -> "50")))
    SnapshotStats.analyze(ctx.spark, storefront, Some(Seq("product_id", "price")))
    storefrontIds = SnapshotStore.read(ctx.spark, storefront).select("product_id")
      .orderBy("product_id").collect().map(_.getString(0)).toIndexedSeq
    followUp(ctx, -1, 0)
    // Two more rounds before the clock starts: without them the
    // per-supplier times still fall from about 1.8 s to 0.7 s over the
    // timed rounds (JIT).
    (1 to 2).foreach(i => run(ctx, i % rounds))
  }

  def op(ctx: Ctx, id: Int): Unit = {
    statements = Seq.empty
    if (ctx.trace.enabled) tipsBefore = Seq(sink, storefront).map(StoreProbe.tip(ctx, _))
    val r = (id + 1) % rounds
    val (results, ms) = Main.timed(run(ctx, r))
    // A supplier's feed landing is the op its operator waits for.
    results.foreach(res => ctx.sample("op", res.durationMs.toDouble))
    ctx.values("items") = ctx.values.getOrElse("items", 0.0) + results.map(_.success).sum
    ctx.sample("items_ms", ms)
    followUp(ctx, id, r)
    if (ctx.trace.enabled) {
      val t = ctx.trace
      results.foreach(res => t.count(id, "pipeline.supplier_ms", res.durationMs.toDouble))
      t.count(id, "pipeline.rows_rejected", results.map(_.errors).sum.toDouble)
      t.count(id, "pipeline.valid_ratio",
        results.map(_.success).sum.toDouble / math.max(1L, results.map(_.processed).sum))
      t.count(id, "sql.statements", statements.size)
    }
  }

  override def extras(ctx: Ctx, id: Int): Unit = {
    val r = (id + 1) % rounds
    Seq(sink, storefront).zip(tipsBefore).foreach { case (root, before) =>
      StoreProbe.recordCommit(ctx, id, root, before)
    }
    // The SQL parser alone, on every statement the op issued.
    statements.foreach { s =>
      ctx.trace.span(id, "sql.parse", "sql")(ctx.spark.sessionState.sqlParser.parsePlan(s))
    }
    // The supplier transform alone, forced through an aggregate over
    // every output column so no projection is pruned away.
    Catalog.suppliers.foreach { s =>
      ctx.trace.span(id, "pipeline.transform", "pipeline") {
        val u = new Catalog.SynthPipeline(s).unified(ctx.spark, feed(s, r))
        u.agg(max(xxhash64(u.columns.map(col).toIndexedSeq: _*))).collect()
      }
    }
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val feeds = spark.read.parquet(feedDir)
      .join(ran.distinct.toSeq.toDF("round"), "round")
      .filter(col("title").isNotNull)
    // Every product valid in some round that ran is in the landing
    // table once; its status and variant count do not change across
    // rounds.
    val live = feeds.groupBy(col("supplier"), col("item_code"))
      .agg(first(col("size")).as("size"), first(size(col("lines"))).as("nv"))
    val status = when(col("size") % 10 === 0, "discontinued")
      .when(col("size") % 7 === 0, "out_of_stock").otherwise("active")
    val want = live.groupBy(col("supplier"), status.as("status"))
      .agg(count(lit(1)), sum(col("nv")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val got = Pipeline.statusReport(spark, sink).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    ctx.check(got == want, s"status report differs: got ${got.take(4)} want ${want.take(4)}")
    val rows = SnapshotStore.read(spark, sink).count()
    val wantRows = want.toSeq.map(_._3).sum
    ctx.check(rows == wantRows, s"final row count $rows, want $wantRows")
    ctx.values("space_amp") = StoreProbe.spaceAmp(ctx, sink)
  }
}
