package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Similarity}

/** The LLM-pipeline dedup chain over a replica-amplified corpus: exact
  * and fingerprint groups, MinHash candidate pairs, cluster-level
  * dedup, and embedding near-duplicate pairs. Compute only: no store.
  * One op is one full pass; every pass must find the same groups,
  * pairs and clusters as the warmup pass did. */
final class CorpusDedup extends Main.Workload {
  /** Replicas per document: distinct but similar (a seeded suffix). */
  val replicas = 2
  /** Source documents and vectors taken before amplification. */
  val sourceDocs = 500
  val sourceVectors = 400
  val nearDupCosine = 0.98

  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var nDocs = 0L
  private var expected = Seq.empty[Long]

  /** A pass takes seconds; three make the median more than the mean
    * of two. Twenty, ten beyond the median, would not fit the run. */
  override val minSamples = 3

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // Blocking, so no clean-up of the last set-up runs into this one.
    if (docs != null) { docs.unpersist(blocking = true); vecs.unpersist(blocking = true) }
    val rnd = new scala.util.Random(ctx.seed)
    val tag = "v" + rnd.alphanumeric.take(6).mkString.toLowerCase
    val reps = spark.range(replicas).select(col("id").as("rep"))
    docs = spark.read.parquet(s"${ctx.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text")).orderBy("doc_id").limit(sourceDocs).crossJoin(reps)
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        concat(col("text"), lit(s" $tag"), col("rep")).as("text"))
      .repartition(ctx.spark.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_ONLY)
    val nudge = 0.0001f * (1 + rnd.nextInt(5))
    vecs = spark.read.parquet(s"${ctx.sfDir}/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").limit(sourceVectors)
      .crossJoin(reps)
      .select((col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        transform(col("embedding"), x => x + col("rep").cast("float") * lit(nudge)).as("embedding"))
      .repartition(ctx.spark.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_ONLY)
    nDocs = docs.count()
    vecs.count()
  }

  /** One full pass; returns (exact groups, fingerprint groups, MinHash
    * pairs, documents kept after clustering, near-dup vector pairs). */
  private def pass(ctx: Ctx, op: Int): Seq[Long] = {
    val t = ctx.trace
    val text = col("text"); val id = col("doc_id")
    val (exact, fp) = t.span(op, "dedup.exact", "operators") {
      (Dedup.exactGroups(docs, text, id).count(), Dedup.fingerprintGroups(docs, text, id).count())
    }
    val pairs = Dedup.minHashPairs(docs, text, id).persist(StorageLevel.MEMORY_ONLY)
    try {
      val nPairs = t.span(op, "dedup.minhash_pairs", "operators")(pairs.count())
      val kept = t.span(op, "dedup.cluster", "operators")(
        Dedup.dedupCorpusClusters(docs, pairs, id).count())
      val near = t.span(op, "ann.near_dup", "operators")(
        Similarity.nearDupPairs(vecs, "vec_id", "embedding", nearDupCosine).count())
      if (t.enabled) t.count(op, "dedup.pairs", nPairs.toDouble)
      Seq(exact, fp, nPairs, kept, near)
    } finally pairs.unpersist()
  }

  def warmup(ctx: Ctx): Unit = {
    expected = pass(ctx, -1)
    ctx.check(expected(2) > 0 && expected(4) > 0 && expected(3) < nDocs,
      s"warmup pass found no near-duplicates: $expected")
  }

  def op(ctx: Ctx, id: Int): Unit = {
    val (got, ms) = Main.timed(pass(ctx, id))
    ctx.check(got == expected, s"pass $id found $got, the warmup pass $expected")
    Seq("exact_groups", "fingerprint_groups", "minhash_pairs", "kept_docs", "near_dup_pairs")
      .zip(got).foreach { case (k, n) => ctx.values(k) = n.toDouble }
    ctx.sample("op", ms)
    ctx.values("items") = ctx.values.getOrElse("items", 0.0) + nDocs
    ctx.sample("items_ms", ms)
  }

  /** Band-bucket candidate pairs, the MinHash stage's attempts: the
    * accepted pairs (≥ threshold) over these are its useful share. */
  override def extras(ctx: Ctx, id: Int): Unit = {
    val banded = Dedup.minHashIndex(docs, col("text"), col("doc_id"))
    val l = banded.select(col("band"), col("bucket"), col("id").as("a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("b"))
    val candidates = l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select("a", "b").distinct().count()
    ctx.trace.count(id, "dedup.candidate_pairs", candidates.toDouble)
  }

  def finish(ctx: Ctx): Unit = {
    docs.unpersist(); vecs.unpersist()
  }
}
