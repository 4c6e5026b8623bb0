package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.adaptiveMaxSplitBytes` sizes from every regular file under
  * the input directory, so a directory-shaped dataset counts its part
  * files the way a single-file table counts its one file. */
class SplitSizeSpec extends AnyFunSuite {

  /** A sparse file of `bytes` logical bytes (no disk blocks written). */
  private def sized(p: Path, bytes: Long): Unit = {
    Files.createDirectories(p.getParent)
    val f = new RandomAccessFile(p.toFile, "rw")
    try f.setLength(bytes) finally f.close()
  }

  test("a directory-shaped dataset sizes to its part files' bytes") {
    assume(sys.env.get("SPARK_GRAFT_MAX_SPLIT_BYTES").isEmpty,
      "the env override bypasses the derivation")
    val mb = 1L << 20
    val flat = TestSpark.scratchDir("split-flat")
    sized(flat.resolve("lineitem.parquet"), 8 * mb)
    val nested = TestSpark.scratchDir("split-nested")
    sized(nested.resolve("lineitem.parquet/part-00000.parquet"), 3 * mb)
    sized(nested.resolve("lineitem.parquet/part-00001.parquet"), 5 * mb)
    sized(nested.resolve("lineitem.parquet/_SUCCESS"), 0)
    // 8 MB over 2 * 2 cpus
    assert(SparkEntry.adaptiveMaxSplitBytes(flat.toString, 2) == 2 * mb)
    assert(SparkEntry.adaptiveMaxSplitBytes(nested.toString, 2) == 2 * mb)
    // the clamps: an absent directory floors at 512 KB, a huge one caps
    // at 128 MB
    assert(SparkEntry.adaptiveMaxSplitBytes(
      nested.resolve("absent").toString, 2) == 512L * 1024)
    sized(nested.resolve("big/part-00000.parquet"), 1024 * mb)
    assert(SparkEntry.adaptiveMaxSplitBytes(nested.toString, 2) == 128 * mb)
  }
}
