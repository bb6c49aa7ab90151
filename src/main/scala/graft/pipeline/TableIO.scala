package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Table access seam: the pipeline reads/writes through this object so the
  * storage format is a configuration, not a code change. In this sandbox the
  * "Iceberg table of Common-Crawl-style pages" is parquet + the Checkpoint
  * manifest (no Iceberg runtime jar offline — SURVEY.md §7); on a real
  * deployment set `spark.graft.table.format=iceberg` and the same calls go
  * through the Iceberg catalog (`format("iceberg")` with a table identifier),
  * whose snapshot log subsumes the manifest's resume role. */
object TableIO {
  /** The one lookup of `spark.graft.table.format`: the format of the page
    * table and of the extracted data files. */
  private[pipeline] def format(spark: SparkSession): String =
    spark.conf.get("spark.graft.table.format", "parquet")

  /** The page table, read with the `PageRow` schema given: the reader
    * starts no schema-inference job, and columns the table has beyond
    * `PageRow`'s five are not read. */
  def readPages(spark: SparkSession, table: String): Dataset[PageRow] = {
    val enc = Encoders.product[PageRow]
    spark.read.schema(enc.schema).format(format(spark)).load(table).as[PageRow](enc)
  }
}
