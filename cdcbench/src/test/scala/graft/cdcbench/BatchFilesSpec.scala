package graft.cdcbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

class BatchFilesSpec extends AnyFunSuite {

  test("files map to batches across a .compact boundary of the source log") {
    val work = Files.createTempDirectory("batchfiles")
    val spark = SparkSession.builder()
      .master("local[2]").appName("batchfiles")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      // fold the per-batch log files into a .compact file every 3 batches
      .config("spark.sql.streaming.fileSource.log.compactInterval", "3")
      .getOrCreate()
    try {
      val in = Files.createDirectories(work.resolve("in"))
      val ckpt = work.resolve("ckpt").toString
      for (i <- 0 until 8) {
        val f = in.resolve(Rig.fileName(i))
        Files.write(f, s"line $i\n".getBytes("UTF-8"))
        f.toFile.setLastModified(1700000000000L + i * 1000L)
      }
      val truth = mutable.Map.empty[Long, Seq[String]]
      spark.readStream.option("maxFilesPerTrigger", 1).text(in.toString)
        .withColumn("f", input_file_name())
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          truth(id) = b.select("f").distinct().collect()
            .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSeq.sorted
          ()
        }
        .start().awaitTermination()

      val log = Path.of(ckpt, "sources", "0")
      assert(Files.exists(log.resolve("2.compact")) && Files.exists(log.resolve("5.compact")))
      assert(truth.size == 8)
      assert(BatchFiles.read(spark, ckpt) == truth.toMap)
      // the log's own cleanup deletes folded per-batch files once they age
      // out; without them batches 0-4 resolve from 5.compact alone
      for (b <- Seq(0, 1, 3, 4)) Files.delete(log.resolve(b.toString))
      assert(BatchFiles.read(spark, ckpt) == truth.toMap)
    } finally spark.stop()
  }
}
