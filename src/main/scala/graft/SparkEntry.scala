package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.Fixtures
import graft.functions.GraftFunctions._
import graft.operators.SpatialJoin
import graft.queries._

/** Public entry points — see SURVEY.md §7.
  *
  * `entry` = the flagship query (SURVEY.md §7 step 3): spatial join of the
  * image table (locations derived from phash) against the polygon extent
  * set, plus web-tile assignment. `queries`/`oracleSql` = per-operator
  * DuckDB-checked twins over the testdata tables (FIXTURES.md §4),
  * both views over `registry`. Every aggregate output goes through exact
  * decimal accumulation with one final cast to double, so values are
  * order-insensitive and engine-exact.
  */
object SparkEntry {
  /** Flagship on generated sf0.001-scale fixtures; smoke-checked for rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val imgs = Fixtures.images(spark, 10000)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    val joined = SpatialJoin.join(spark, imgs, col("lon"), col("lat"), Fixtures.polygons)
    SpatialJoin.assignTiles(joined, col("lon"), col("lat"), 12)
      .select("image_id", "poly_id", "tile_z", "tile_x", "tile_y")
  }

  /** Every query beside its DuckDB twin, one list per family. */
  val registry: Seq[QuerySpec] = QuerySpec.registry(
    SpatialQueries.specs ++ TableQueries.specs ++ TextQueries.specs ++ AnnQueries.specs ++
      RasterQueries.specs ++ MobilityQueries.specs ++ StreamingQueries.specs)

  def queries: Map[String, (SparkSession, String) => DataFrame] = registry.map(q => q.name -> q.run).toMap

  /** Forces every twin; only Verify and the registry spec read it. */
  def oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap
}
