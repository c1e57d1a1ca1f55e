package graft.cdcbench

import java.nio.file.Files

import graft.sources.{ParquetTableStore, TableStore}
import graft.streaming.CdcPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine defect behind the modification-time shaping in
  * `Rig.writeFile`: `fileMaxwellStream` picks each batch's
  * `maxFilesPerTrigger` files by modification time alone, so files that
  * share a modification time are read out of name order across batches.
  * When this test fails, the engine orders such ties by name: delete the
  * shaping in `Rig.writeFile`, and this test with it.
  */
class MtimeTieSpec extends AnyFunSuite {

  test("the engine still reads files with one modification time out of name order") {
    val work = Files.createTempDirectory("mtimetie")
    val spark = SparkSession.builder()
      .master("local[2]").appName("mtimetie")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val in = Files.createDirectories(work.resolve("in"))
      // created neither in name order nor in its reverse, so no directory
      // listing order can hide the defect
      for (i <- Seq(3, 0, 6, 1, 7, 4, 2, 5)) {
        val f = in.resolve(Rig.fileName(i))
        Files.write(f, (s"""{"database":"${Generator.Database}","table":"orders",""" +
          s""""type":"update","ts":$i,"data":{"o_id":1,"o_cust":1,"o_amount":$i,""" +
          s""""o_status":"O"},"old":{"o_amount":0}}""" + "\n").getBytes("UTF-8"))
        f.toFile.setLastModified(1700000000000L)
      }
      val root = work.resolve("stores").toString
      val orders = new ParquetTableStore(spark, root, Tables.Orders, 1)
      val customer = new ParquetTableStore(spark, root, Tables.Customer, 1)
      orders.init(Tables.ordersDf(spark, Seq(Order(1, 1, 0, "O"))))
      customer.init(Tables.customerDf(spark, Nil))
      val stores = Map[String, TableStore](
        Tables.Orders.name -> orders, Tables.Customer.name -> customer)
      val ckpt = work.resolve("ckpt").toString
      CdcPipeline.fileMaxwellStream(spark, in.toString, Tables.Registry, stores, ckpt,
        Trigger.AvailableNow(), maxFilesPerTrigger = 1).awaitTermination()

      val read = BatchFiles.read(spark, ckpt).toSeq.sortBy(_._1).flatMap(_._2)
      assert(read.sorted == (0 until 8).map(Rig.fileName))
      assert(read != read.sorted,
        "files sharing a modification time were read in name order: the engine " +
          "defect is fixed, so remove the mtime shaping in Rig.writeFile and this test")
    } finally spark.stop()
  }
}
