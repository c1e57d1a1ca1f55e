package graft.cdcbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog

/** Which input files each micro-batch of a file stream read, taken from the
  * file source's own metadata log in the checkpoint
  * (`<checkpoint>/sources/0`). Spark's [[FileStreamSourceLog]] folds its
  * per-batch files into a `.compact` file every
  * `spark.sql.streaming.fileSource.log.compactInterval` batches and may
  * delete the originals; its range read resolves both, so the map stays
  * right across a compaction boundary.
  */
object BatchFiles {

  /** batchId → base names of the files it read, for every batch logged. */
  def read(spark: SparkSession, checkpointDir: String): Map[Long, Seq[String]] = {
    val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark,
      s"$checkpointDir/sources/0")
    log.getLatestBatchId() match {
      case None => Map.empty
      case Some(last) =>
        log.get(Some(0L), Some(last)).map { case (id, entries) =>
          id -> entries.toSeq.map(e => baseName(e.path)).sorted
        }.toMap
    }
  }

  private def baseName(path: String): String =
    new org.apache.hadoop.fs.Path(new java.net.URI(path)).getName
}
