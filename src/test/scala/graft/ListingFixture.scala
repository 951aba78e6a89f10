package graft

import graft.schema.Schemas
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The hand-written clean-listings fixture (`clean_listings.csv`, the
  * FIXTURES.md §2 CSV format with "NaN" for missing): 25 rows covering
  * NaN cells, "Unknown" locations, state case variants, junk filter
  * values and every price-bucket edge. Loaded through the engine's own
  * clean-CSV reader and cached. */
object ListingFixture {
  def clean(spark: SparkSession): DataFrame =
    Sources.readCleanCsv(spark, java.nio.file.Paths.get(
      getClass.getResource("/clean_listings.csv").toURI).toString)
      .select(Schemas.finalColumns.map(col): _*).cache()
}
