package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.tensor.TBlock

/** Block-tensor sink/source — the engine's `to_zarr`/`from_zarr` analog
  * (the reference ecosystem persists chunked arrays with an explicit
  * chunk-grid manifest; dask.array round-trips through such stores).
  *
  * Layout under `dir`:
  *  - `blocks/` — parquet of TYPED block rows (`dtype STRING, data
  *    BINARY` — the SURVEY §1.2 schema; a uint8 image costs 1 byte/pixel
  *    on disk and over the wire, float64 costs 8), partitioned by
  *    `(imageId, idx0)` where idx0 is the leading grid index. Reading a
  *    frame range therefore PRUNES partitions at the source (the same
  *    role zarr's chunk addressing plays); non-leading axes stay inside
  *    the files, which matches the stacked-frames layout every producer
  *    in this engine emits (imread, rasterize).
  *  - `_ATTRS.json` — one manifest entry per imageId: full array shape,
  *    nominal chunk shape, grid dims, block count, dtype. Written by the
  *    driver from a per-image aggregate (one tiny row per image — never
  *    per block) through the Hadoop FileSystem of `dir`, so hdfs:// and
  *    s3a:// work the same as file:.
  *
  * Scale posture: the write is one pass over the block rows with no
  * shuffle (partitionBy is a write-side split, not an exchange); the
  * manifest aggregate reduces map-side to |images| rows.
  */
object TensorStore {

  /** Write a block tensor in its own dtype (float64 stays bit-exact).
    * Overwrites any prior store. */
  def write(blocks: Dataset[TBlock], dir: String): Unit = {
    val spark = blocks.sparkSession
    blocks.toDF()
      .withColumn("idx0", element_at(col("idx"), 1))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("imageId", "idx0")
      .parquet(new Path(dir, "blocks").toString)
    // manifest: per-image geometry + dtype; disagreeing blocks (mixed
    // chunk grids or mixed dtypes under one imageId) must fail the
    // write, not corrupt readers
    val m = blocks.toDF().groupBy(col("imageId"))
      .agg(count(lit(1)).as("n_blocks"),
        count_distinct(struct(col("arrayShape"), col("chunk"))).as("n_geom"),
        count_distinct(col("dtype")).as("n_dtype"),
        first(col("arrayShape")).as("arrayShape"),
        first(col("chunk")).as("chunk"),
        first(col("dtype")).as("dtype"))
      .orderBy(col("imageId"))
      .collect()
    require(m.forall(_.getAs[Long]("n_geom") == 1L),
      "tensor store write: blocks of one imageId must share arrayShape+chunk")
    require(m.forall(_.getAs[Long]("n_dtype") == 1L),
      "tensor store write: blocks of one imageId must share one dtype")
    val entries = m.map { r =>
      val shape = r.getSeq[Int](r.fieldIndex("arrayShape"))
      val chunk = r.getSeq[Int](r.fieldIndex("chunk"))
      val grid = shape.zip(chunk).map { case (n, c) => (n + c - 1) / c }
      s"""{"image_id":"${r.getString(0)}","shape":[${shape.mkString(",")}],""" +
        s""""chunks":[${chunk.mkString(",")}],"grid":[${grid.mkString(",")}],""" +
        s""""n_blocks":${r.getAs[Long]("n_blocks")},"dtype":"${r.getAs[String]("dtype")}"}"""
    }
    val json = entries.mkString("{\"tensor_store\":1,\"images\":[", ",", "]}")
    val p = new Path(dir, "_ATTRS.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Read a store back as TBlock rows in the stored dtype. `frameRange`
    * restricts the leading grid index [lo, hi] and lands as a
    * PartitionFilter on the scan — only the matching chunk files are
    * opened. */
  def read(spark: SparkSession, dir: String, imageId: Option[String] = None,
      frameRange: Option[(Int, Int)] = None): Dataset[TBlock] = {
    import spark.implicits._
    var df = graft.Tables.parquet(spark, new Path(dir, "blocks").toString)
    for (id <- imageId) df = df.filter(col("imageId") === id)
    for ((lo, hi) <- frameRange)
      df = df.filter(col("idx0") >= lo && col("idx0") <= hi)
    df.drop("idx0").as[TBlock]
  }

  /** The manifest as parsed rows: (image_id, shape, chunks, grid,
    * n_blocks, dtype). */
  def attrs(spark: SparkSession, dir: String): Seq[(String, Seq[Int], Seq[Int], Seq[Int], Long, String)] = {
    val p = new Path(dir, "_ATTRS.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // tiny driver-side parse of the exact format `write` emits
    val entry = """\{"image_id":"([^"]+)","shape":\[([^\]]*)\],"chunks":\[([^\]]*)\],"grid":\[([^\]]*)\],"n_blocks":(\d+),"dtype":"([^"]+)"\}""".r
    entry.findAllMatchIn(json).map { g =>
      def ints(s: String) = if (s.isEmpty) Seq.empty[Int] else s.split(",").map(_.trim.toInt).toSeq
      (g.group(1), ints(g.group(2)), ints(g.group(3)), ints(g.group(4)),
        g.group(5).toLong, g.group(6))
    }.toSeq
  }
}
