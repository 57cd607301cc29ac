package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED MinHash signature index — the ~300 B/doc projection
  * `(doc_id, source, sig[32], band, bucket)` a production lake keeps ON
  * DISK so an incremental crawl batch can be near-dup-checked without
  * ever touching corpus text (the at-rest twin of the derived-inline
  * relation `incremental_near_dedup` gates on, and the state-bootstrap
  * seam for the streaming filter).
  *
  * Layout: parquet partitioned by `band` (8 LSH bands of 4 sig slots)
  * × `part` = pmod(hash(bucket), 64) — 512 directories. A probe
  * computes its own (band, part) keys from the batch alone (≤ 512
  * values, partition METADATA, not data) and pushes them as a literal
  * partition filter, so the scan reads only directories some batch doc
  * can collide in: "only colliding buckets shuffle" is true at the
  * FILE level, not just in the join plan. Appends (`SaveMode.Append`)
  * add row-group files inside existing directories — an incremental
  * crawl grows the index without rewriting it, and the partition count
  * is fixed by construction (no small-dir explosion at 100 TB; within
  * a directory, files compact by any ordinary parquet maintenance
  * pass).
  */
object SigIndex {

  /** Fixed bucket-hash fanout per band. 8 bands × 64 = 512 directories
    * — coarse enough that a directory holds many buckets (no per-bucket
    * small files), fine enough that a typical batch's partition filter
    * skips most of the corpus index. */
  val BucketFanout = 64

  /** `banded` must carry (doc_id, source, sig, band, bucket). */
  private def withPart(banded: DataFrame): DataFrame =
    banded.withColumn("part", pmod(hash(col("bucket")), lit(BucketFanout)))

  /** Write (or append) banded signature rows to the index at `path`. */
  def write(banded: DataFrame, path: String, mode: String): Unit =
    withPart(banded)
      .select("doc_id", "source", "sig", "bucket", "band", "part")
      .write.mode(mode).partitionBy("band", "part").parquet(path)

  /** Full index scan (partition columns `band`/`part` come back as
    * columns; callers filter to prune). */
  def read(s: SparkSession, path: String): DataFrame = graft.Tables.parquet(s, path)

  /** Index scan pruned to the (band, part) partitions named by the
    * probe side. `keys` are `band * BucketFanout + part` codes — at
    * most 8 × 64 = 512 values of partition METADATA collected on the
    * driver (the dedup-index twin of dynamic partition pruning, but
    * deterministic: the literal IN lands in the scan's
    * PartitionFilters, pinned by PlanShapeSpec). */
  def prunedRead(s: SparkSession, path: String, keys: Seq[Int]): DataFrame =
    read(s, path).filter(
      (col("band") * BucketFanout + col("part")).isin(keys: _*))

  /** The probe side's own (band, part) partition codes. */
  def probeKeys(banded: DataFrame): Seq[Int] =
    withPart(banded)
      .select((col("band") * BucketFanout + col("part")).as("k"))
      .distinct().collect().map(_.getInt(0)).toSeq

  /** The DURABLE bench/ensureAll index location for an sf dir, and the
    * corpus/batch cut (index = doc_id below the 90th-percentile cut —
    * the accumulated corpus; the top 10% plays the arriving batch).
    * Fingerprint covers source file identity + the cut, so a
    * regenerated corpus can never be probed against a stale index. */
  def benchRoot(s: SparkSession, dir: String): (java.io.File, Long) = {
    val maxId = graft.Tables.t(s, dir, "documents")
      .agg(max("doc_id")).head().getLong(0)
    val cut = maxId - maxId / 10
    val fp = Lake.layoutFingerprint(
      new java.io.File(s"$dir/documents.parquet"), s"sigidx-v1-cut$cut")
    (new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sigidx_${Lake.dirSuffix(dir)}_$fp"), cut)
  }

  /** Build-if-absent of the durable bench index (same
    * [[Lake.ensureLayout]] contract as the month/day/bucketed
    * layouts). Returns (reused, build_s). */
  def ensureBenchIndex(s: SparkSession, dir: String): (Boolean, Double) = {
    val (root, cut) = benchRoot(s, dir)
    val reused = Lake.layoutComplete(root)
    val t0 = System.nanoTime()
    Lake.ensureLayout(s, root) { tmp =>
      write(
        graft.queries.TextOps.nearDupBand(
          graft.queries.TextOps.nearDupSigs(
            graft.Tables.t(s, dir, "documents").filter(col("doc_id") < cut))),
        tmp.toString, "overwrite")
    }
    (reused, (System.nanoTime() - t0) / 1e9)
  }
}
