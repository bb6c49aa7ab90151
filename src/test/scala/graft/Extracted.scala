package graft

import graft.pipeline.{Checkpoint, ExtractPipeline, ExtractedDoc, PageRow}
import org.apache.spark.sql.Dataset

/** Extraction as a user of the library reads it: `pages` committed through
  * the one extraction path to a scratch output, read back from the table
  * and collected. The scratch output is deleted before this returns. */
object Extracted {
  def apply(pages: Dataset[PageRow], delimiter: String = "",
      captureLines: Boolean = false): Seq[ExtractedDoc] =
    TempDirs.withTempDir("graft_extracted") { out =>
      val spark = pages.sparkSession
      import spark.implicits._
      Checkpoint.commitWithData(ExtractPipeline.run(pages, delimiter, captureLines), out)
      Checkpoint.readExtracted(spark, out).as[ExtractedDoc].collect().toSeq
    }
}
