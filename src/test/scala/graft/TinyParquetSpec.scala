package graft

import graft.ops.TinyParquet

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The driver-side tiny-layout reader: deterministic row order,
  * loud failure on types the meta writers never emit, and the size
  * bound that keeps it from becoming a driver-side table scan.
  */
class TinyParquetSpec extends SparkSpecBase {

  /** Write `df` as one parquet file named `name` inside `dir`. */
  private def writeOne(df: org.apache.spark.sql.DataFrame, dir: File, name: String): Unit = {
    val tmp = Files.createTempDirectory("tiny-part").toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(dir, name).toPath)
  }

  test("rows() reads files in name order, whatever order they were written in") {
    val dir = Files.createTempDirectory("tiny-order").toFile
    // a fixed scramble: neither creation order nor its reverse is sorted
    Seq(7, 2, 11, 0, 5, 9, 1, 10, 3, 8, 6, 4).foreach(i => writeOne(spark.range(1).select(lit(i.toLong).as("v")), dir, f"f-$i%02d.parquet"))
    assert(TinyParquet.rows(spark, dir.toString).map(_.getLong("v")) === (0 until 12).map(_.toLong))
    assert(TinyParquet.row(spark, dir.toString).getLong("v") === 0L)
  }

  test("annotated primitives the meta writers never emit fail loudly") {
    Seq(
      "date"    -> expr("date'2024-01-02'"),
      "decimal" -> lit(BigDecimal("1.25")).cast("decimal(10,2)"),
      "ts"      -> expr("timestamp'2024-01-02 03:04:05'")
    ).foreach { case (name, value) =>
      val dir = Files.createTempDirectory(s"tiny-$name").toFile
      writeOne(spark.range(1).select(value.as(name)), dir, "f.parquet")
      val e = intercept[IllegalStateException](TinyParquet.row(spark, dir.toString))
      assert(e.getMessage.contains("unsupported primitive"), name)
    }
  }

  test("layouts over MaxBytes are refused before any decoding") {
    val dir = Files.createTempDirectory("tiny-big").toFile
    val raf = new java.io.RandomAccessFile(new File(dir, "big.parquet"), "rw")
    try raf.setLength(TinyParquet.MaxBytes + 1) finally raf.close()
    val e = intercept[IllegalArgumentException](TinyParquet.rows(spark, dir.toString))
    assert(e.getMessage.contains("tiny-layout bound"))
  }
}
