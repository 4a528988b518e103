package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Registry, SupplierPipeline}

/** Synthetic supplier catalogs built from the TPC-H style `part` and
  * `lineitem` tables, in a supplier-specific raw shape that a registered
  * [[SynthPipeline]] maps onto the unified product schema.
  *
  * Every product is one part; about one in eight of its lineitems, at
  * most [[maxVariants]], are nested as its variants. Supplier `i` carries the parts with
  * `p_partkey % suppliers == i`. A feed for round `r` is the supplier's
  * full catalog as it stands in that round, where the seed decides:
  *  - which products are introduced late (absent before their round),
  *  - which are changed in the round (new price and title),
  *  - which are invalid in the round (null title, rejected by the
  *    pipeline's error channel).
  * The shares are fixed; only which rows they hit depends on the seed. */
object Catalog {
  val suppliers: Seq[String] = Seq("synth_north", "synth_south", "synth_east", "synth_west")
  val maxVariants = 4
  val lateSharePct = 8
  val changedSharePct = 10
  val invalidSharePermille = 15

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(1000000L))

  /** Raw products of every supplier, at most `perSupplier` each (all
    * rounds' candidates). Columns: supplier (name), item_code, title,
    * brand, kind, size, list_price, lines (array of line structs). */
  def products(spark: SparkSession, sfDir: String, perSupplier: Int): DataFrame = {
    val n = suppliers.size.toLong
    // Part keys run 1..N, so this keeps `perSupplier` parts per supplier.
    val parts = spark.read.parquet(s"$sfDir/part.parquet")
      .filter(col("p_partkey") <= lit(perSupplier * n))
    // About one line in eight of each part becomes a variant.
    val lines = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_partkey") <= lit(perSupplier * n) && pmod(col("l_orderkey"), lit(8L)) === 0)
      .groupBy(col("l_partkey"))
      .agg(slice(array_sort(collect_list(struct(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("line_ref"),
        round(col("l_extendedprice") / col("l_quantity"), 2).as("unit_price"),
        col("l_quantity").cast("int").as("qty"),
        to_date(col("l_shipdate")).as("ship")))), 1, maxVariants).as("lines"))
    parts.join(lines, parts("p_partkey") === lines("l_partkey"), "left")
      .select(element_at(typedLit(suppliers), pmod(col("p_partkey"), lit(n)).cast("int") + 1)
          .as("supplier"),
        col("p_partkey").as("item_code"), col("p_name").as("title"),
        col("p_brand").as("brand"), col("p_type").as("kind"), col("p_size").as("size"),
        col("p_retailprice").as("list_price"),
        coalesce(col("lines"), array().cast(lines.schema("lines").dataType)).as("lines"))
  }

  /** The feed of one round: the seed's late/changed/invalid decisions
    * applied to [[products]], plus a `round` column. */
  def roundFeed(base: DataFrame, seed: Long, r: Int, rounds: Int): DataFrame = {
    val key = col("item_code")
    val late = h(seed, 1, key) < lit(lateSharePct * 10000L)
    val intro = when(late, lit(1) + pmod(h(seed, 2, key), lit(math.max(1, rounds - 1).toLong)))
      .otherwise(lit(0))
    val changed = h(seed, 3, key, lit(r)) < lit(changedSharePct * 10000L)
    val invalid = h(seed, 4, key, lit(r)) < lit(invalidSharePermille * 1000L)
    base.filter(intro <= r)
      .withColumn("list_price", when(changed, round(col("list_price") * (1.0 + 0.01 * (r + 1)), 2))
        .otherwise(col("list_price")))
      .withColumn("title", when(invalid, lit(null).cast("string"))
        .when(changed, concat(col("title"), lit(s" r$r")))
        .otherwise(col("title")))
      .withColumn("round", lit(r))
  }

  /** The unified-schema mapping every synthetic supplier shares. */
  def unify(raw: DataFrame, supplier: String): DataFrame = {
    val supplierId = lit(supplier)
    raw.select(
      concat(supplierId, lit("-"), col("item_code").cast("string")).as("product_id"),
      col("title").as("name"),
      initcap(split(col("brand"), "#").getItem(0)).as("brand"),
      col("kind").as("category"),
      struct(supplierId.as("id"), initcap(supplierId).as("name")).as("supplier"),
      when(col("size") % 10 === 0, "discontinued")
        .when(col("size") % 7 === 0, "out_of_stock").otherwise("active").as("status"),
      col("list_price").as("price"),
      transform(col("lines"), l => struct(
        concat(supplierId, lit("-"), col("item_code").cast("string"), lit("-"),
          l("line_ref")).as("sku"),
        array(struct(l("unit_price").as("value"), lit("GBP").as("currency"),
          l("qty").as("min_quantity"))).as("prices"),
        struct(l("qty").as("available"), l("ship").as("expected")).as("stock"))).as("variants"))
  }

  /** A supplier pipeline over the parquet feeds this object writes. */
  final class SynthPipeline(val id: String) extends SupplierPipeline {
    def unified(spark: SparkSession, feedPath: String): DataFrame =
      unify(spark.read.parquet(feedPath), id)
  }

  def register(): Unit = suppliers.foreach(s => Registry.register(new SynthPipeline(s)))
}
