package perfbench

import java.io.File

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import graft.fixtures.Fixtures
import graft.model.{CodeFile, GoldRow}

/** The seeded fixture corpus of `scan_fixture` and its `io` cycles.
  *
  * Rows are `Fixtures.genRow(i)` over the index window `[offset, offset+n)`,
  * with `offset` drawn from the seed, so planted gold rows exist for every
  * seed. The window length is a multiple of 100, so every window holds the
  * fixture row classes in the same proportions. The parquet copy is cached
  * under the work directory, keyed by (generator, seed, n) and file count.
  */
final case class Corpus(seed: Long, n: Long, files: Int, dir: String) {
  require(n % 100 == 0, "corpus size must be a multiple of 100")

  val offset: Long = Corpus.offsetFor(seed)
  val path: String = s"$dir/corpus-fixtures-genRow-seed$seed-n$n-files$files"

  /** Write the parquet copy unless it is already cached; returns the
    * seconds spent generating (0 on a cache hit).
    */
  def materialize(spark: SparkSession): Double = {
    val done = new File(path, "_SUCCESS")
    if (done.exists()) 0.0
    else Timer.seconds {
      val off = offset
      spark.range(off, off + n, 1, files)
        .mapPartitions(_.map(i => Fixtures.genRow(i)._1))(Encoders.product[CodeFile])
        .write.mode("overwrite").parquet(path)
    }
  }

  def read(spark: SparkSession): Dataset[CodeFile] =
    spark.read.parquet(path).as[CodeFile](Encoders.product[CodeFile])

  /** The first `k` parquet files only: the input of a set-up's warm call. */
  def readFirst(spark: SparkSession, k: Int): Dataset[CodeFile] = {
    val parts = new File(path).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
    spark.read.parquet(parts.take(k): _*).as[CodeFile](Encoders.product[CodeFile])
  }

  def gold(spark: SparkSession): Dataset[GoldRow] = {
    val off = offset
    spark.range(off, off + n)
      .mapPartitions(_.map(i => Fixtures.genRow(i)._2))(Encoders.product[GoldRow])
  }
}

object Corpus {
  /** SplitMix64 finaliser: a well-spread window start for any seed, rounded
    * down to a multiple of 100 and kept far below Long overflow.
    */
  def offsetFor(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, 1000000000L) * 100L
  }
}
