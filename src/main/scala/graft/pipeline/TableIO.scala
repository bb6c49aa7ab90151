package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Table access seam: the pipeline reads/writes through this object so the
  * storage format is a configuration, not a code change. In this sandbox the
  * "Iceberg table of Common-Crawl-style pages" is parquet + the Checkpoint
  * manifest (no Iceberg runtime jar offline — SURVEY.md §7).
  * `spark.graft.table.format` must name a FILE format (parquet, orc, …):
  * the commit's tasks write the output's data files through that format's
  * own `OutputWriter`, and the manifest lists them. Any other source —
  * `iceberg`, `jdbc`, `noop` — fails the commit with an
  * `IllegalArgumentException` before a file is written; an Iceberg
  * catalog would need its own commit, whose snapshot log would take the
  * manifest's resume role. */
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
