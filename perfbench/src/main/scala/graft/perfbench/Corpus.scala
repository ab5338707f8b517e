package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.data.SyntheticImages
import graft.data.SyntheticImages.{Row, RowLite}
import graft.hash.HashKernels

/** Seed-keyed corpora for the workloads, composed from the program's own
  * family generator (`SyntheticImages.familyTruth`). Every row derives from
  * `(seed, family id)` alone, so the same seed gives the same corpus on any
  * core count. `SyntheticImages.ensure` is not used: it caches by
  * scale-factor name and ignores its seed. Ids keep the program's
  * `img_%010d` surrogate contract: family `f` owns ids `[8f, 8f + 5)`. */
object Corpus {

  /** workload shape; sizes are chosen by run length (see NOTES.md). */
  final case class Shape(
      families: Int,
      withBytes: Boolean = false,
      copyFamilyPerMille: Int = 1000) {
    /** the same shape with `f` times the families (run.py trains its
      * class-data archive on a small one) */
    def scaled(f: Double): Shape = copy(families = math.max(1, math.round(families * f).toInt))
  }

  val shapes: Map[String, Shape] = Map(
    "dense" -> Shape(families = 20000),
    // ~8.9% of families may carry copies and 45% of those draw at least one,
    // so about 4% of families have copies, as in a sparse real corpus
    "sparse_decode" -> Shape(families = 28000, withBytes = true, copyFamilyPerMille = 89))

  /** family `fid` is allowed copies iff a seed-keyed draw falls under the
    * shape's per-mille; otherwise only its base image is kept. */
  private def keepsCopies(fid: Long, seed: Long, perMille: Int): Boolean =
    perMille >= 1000 ||
      java.lang.Long.remainderUnsigned(HashKernels.fmix64Seeded(fid ^ 0x5851f42d4c957f2dL, seed), 1000L) <
        perMille

  private def truths(fid: Long, seed: Long, perMille: Int): Seq[SyntheticImages.Truth] = {
    val all = SyntheticImages.familyTruth(fid, seed, fid * 8)
    if (keepsCopies(fid, seed, perMille)) all else all.take(1)
  }

  /** generate the workload's corpus at `path` (parquet, overwritten) and
    * return it read back, as the job would read a stored corpus. */
  def write(spark: SparkSession, shape: Shape, benchSeed: Long, path: String): DataFrame = {
    import spark.implicits._
    // the generator keys families by `famId ^ seed`: spread small benchmark
    // seeds over all 64 bits, or seeds 1, 2, 3 would relabel one corpus
    val seed = HashKernels.fmix64(benchSeed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L)
    val nFam = shape.families.toLong
    val parts = math.max(4, (nFam / 4000L).toInt)
    val perMille = shape.copyFamilyPerMille
    val base = spark.range(0L, nFam, 1L, parts)
    val frame =
      if (shape.withBytes)
        base.flatMap { fid =>
          truths(fid, seed, perMille).map { t =>
            Row(t.image_id, SyntheticImages.encode(t.pixels, t.fmt), SyntheticImages.Size,
              SyntheticImages.Size, t.fmt, t.caption, t.phash, fid)
          }
        }.toDF()
      else
        base.flatMap { fid =>
          truths(fid, seed, perMille).map { t =>
            RowLite(t.image_id, SyntheticImages.Size, SyntheticImages.Size, t.fmt, t.caption,
              t.phash, fid)
          }
        }.toDF()
    frame.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
