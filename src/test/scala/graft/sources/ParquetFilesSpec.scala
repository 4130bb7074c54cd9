package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TestSpark

class ParquetFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** 2,000 rows of fixed values in 4 partitions: a long, a double, a
    * string and an array, so the concat covers several encodings. */
  private def fixture() = spark.range(0, 2000, 1, 4).select(col("id"),
    (col("id") * 0.5).as("x"), concat(lit("r"), col("id").cast("string")).as("s"),
    array(col("id").cast("float"), lit(1f)).as("a"))

  test("a footer read takes its read options from the passed conf") {
    val dir = Files.createTempDirectory("graft_footer").toString
    try {
      fixture().write.mode("overwrite").parquet(dir)
      val part = ParquetFiles.partFiles(dir).head.getPath
      val conf = spark.sessionState.newHadoopConf()
      assert(ParquetFiles.rowCount(ParquetFiles.footer(part, conf)) == 500)
      // a read option set on the passed conf reaches the reader: a crypto
      // factory class that does not exist fails the open
      conf.set("parquet.crypto.factory.class", "graft.sources.NoSuchCryptoFactory")
      val e = intercept[Exception](ParquetFiles.footer(part, conf))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("NoSuchCryptoFactory")), e)
    } finally SnapshotTable.deleteRecursively(dir)
  }

  test("writeOneFile concatenates the part files byte for byte") {
    val dir = Files.createTempDirectory("graft_onefile_test")
    val dst = dir.resolve("one.parquet")
    try {
      ParquetFiles.writeOneFile(spark, fixture(), dst)
      // everything before the footer is the parts' row groups, copied
      // unchanged; the value is the one the concat wrote when it still
      // opened each part with parquet's default read options. The footer
      // itself is not pinned: parquet-mr serializes each column chunk's
      // encodings from a hash set whose order changes from JVM to JVM.
      val bytes = Files.readAllBytes(dst)
      val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes.take(bytes.length - 8 - footerLen)).map("%02x".format(_)).mkString
      assert((md5, footerLen) == ("4ddd85ae2285dae96c2828d202de09ca", 1915))
      val conf = spark.sessionState.newHadoopConf()
      assert(ParquetFiles.footer(dst.toString, conf).getBlocks.size == 4)
      val one = spark.read.parquet(dst.toString)
      assert(one.count() == 2000 && one.exceptAll(fixture()).isEmpty)
    } finally SnapshotTable.deleteRecursively(dir.toString)
  }
}
