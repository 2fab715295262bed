package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Blosc, HDF5, NetCDF, Zarr}
import graft.io.HDF5.WVar
import graft.model.XDataset

/** A seeded `t x y x x` grid whose values sit on a dyadic grid (k/4 with
  * |k| <= 512), so every sum over it is exact in double and the reduced
  * reads can be checked against closed-form sums computed in process.
  * The same integer hash runs in Spark (to build the long table) and in
  * Scala (for the expected sums and the HDF5 fixture). */
final class Grid(seed: Long, val nt: Int, val ny: Int, val nx: Int,
                 val chunks: Seq[Int]) {
  private val P = 2147483647L
  private val s = Math.floorMod(seed, 1000003L)
  val cells: Long = nt.toLong * ny * nx
  val nChunks: Int = Seq(nt, ny, nx).zip(chunks)
    .map { case (n, c) => (n + c - 1) / c }.product

  def k(i: Long): Long = {
    val a = Math.floorMod(i * 2654435761L + s * 40503L + 12345L, P)
    Math.floorMod(a * 1103515245L + s, P) % 1025
  }
  def value(i: Long): Double = (k(i) - 512) / 4.0

  def df(spark: SparkSession): DataFrame = {
    val a = pmod(col("id") * 2654435761L + lit(s * 40503L + 12345L), lit(P))
    val kk = pmod(a * 1103515245L + lit(s), lit(P)) % 1025
    spark.range(cells).select(
      expr(s"id div ${ny.toLong * nx}").as("t"),
      expr(s"(id div $nx) % $ny").as("y"),
      expr(s"id % $nx").as("x"),
      ((kk - 512) / 4.0).as("v"))
  }

  def coords: Seq[Array[Double]] =
    Seq(nt, ny, nx).map(n => Array.tabulate(n)(_.toDouble))

  /** Expected reduction over `t`: rows, sum of 4*S(y,x) and sum of
    * (y*nx + x + 1) * 4*S(y,x), all exact integers. */
  lazy val expected: Gate.Fingerprint = {
    val s4 = new Array[Long](ny * nx)
    var i = 0L
    while (i < cells) {
      s4((i % (ny.toLong * nx)).toInt) += k(i) - 512
      i += 1
    }
    var q = 0L; var w = 0L
    s4.indices.foreach { j => q += s4(j); w += (j + 1L) * s4(j) }
    Gate.Fingerprint(ny.toLong * nx, s"$q:$w")
  }

  /** The check plan for a reduced read, the same shape as [[expected]]. */
  def checkDF(reduced: DataFrame): DataFrame = {
    val s4 = (col("s") * 4).cast("long")
    reduced.agg(count(lit(1)).as("rows"), sum(s4).as("q"),
      sum((col("y") * nx + col("x") + 1) * s4).as("w"))
  }
  def read(check: DataFrame): Gate.Fingerprint = {
    val r = check.collect()(0)
    Gate.Fingerprint(r.getLong(0), s"${r.getLong(1)}:${r.getLong(2)}")
  }
}

/** The store ops of `bulk`: Zarr (Blosc) and netCDF writes of the grid, and
  * reads of Zarr, netCDF and netCDF4/HDF5 stores reduced over `t`. A write
  * lands in a fresh directory that then replaces the store its format's
  * read opens, so every read also checks the latest write. */
final class ArrayStore(spark: SparkSession, root: String, val grid: Grid) {
  private val dims = Seq("t", "y", "x")
  private def dir(f: String) = s"$root/$f"
  // generated anew by every write: a lazily computed array, as `to_zarr`
  // of an xarray expression would see it
  private def gridDf: DataFrame = grid.df(spark)

  private def writeZarr(to: String): Unit =
    Zarr.writeLongDF(gridDf, to, "v", dims, grid.coords, chunks = grid.chunks,
      compressor = Some(("blosc:lz4:1", 5)))
  private def writeNetcdf(to: String): Unit = {
    new File(to).mkdirs()
    NetCDF.writeDataset(XDataset(gridDf, dims), s"$to/grid.nc")
  }

  /** Build the three stores read by the ops; the netCDF4/HDF5 file is
    * written here only. */
  def setup(): Unit = {
    deleteTree(new File(root)); new File(root).mkdirs()
    writeZarr(dir("zarr"))
    writeNetcdf(dir("netcdf"))
    new File(dir("hdf5")).mkdirs()
    val data = Array.tabulate(grid.cells.toInt)(i => grid.value(i))
    HDF5.writeNc4(s"${dir("hdf5")}/grid.nc4", dims.zip(grid.coords),
      Seq(WVar("v", Seq(0, 1, 2), data, chunk = Some(grid.chunks))))
  }

  private def chunkFiles(store: String): Seq[File] =
    Option(new File(s"$store/v").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith(".")).toSeq

  private def replace(fmt: String, fresh: String): Unit = {
    val old = new File(dir(fmt) + ".old")
    deleteTree(old)
    new File(dir(fmt)).renameTo(old)
    require(new File(fresh).renameTo(new File(dir(fmt))), s"cannot replace $fmt")
    deleteTree(old)
  }

  private def readOp(fmt: String, open: String => DataFrame): Op =
    Op(s"read_$fmt", "io", Op.Read, grid.cells, ph => {
      val raw = ph(s"io.open.$fmt")(open(dir(fmt)))
      val long = raw.select(dims.map(d => col(d).cast("long").as(d)) :+ col("v"): _*)
      val reduced = XDataset(long, dims).reduce(Seq("t"), Seq(sum(col("v")).as("s")))
      val check = grid.checkDF(reduced)
      ph.plan(ph("op.plan")(check.queryExecution.executedPlan))
      val got = ph(s"io.read.$fmt")(grid.read(check))
      Outcome(got == grid.expected, got.toString, grid.expected.toString)
    })

  def ops: Seq[Op] = Seq(
    Op("write_zarr", "io", Op.Write, grid.cells, ph => {
      val fresh = dir("zarr.new"); deleteTree(new File(fresh))
      ph("io.write.zarr")(writeZarr(fresh))
      val n = chunkFiles(fresh).size
      replace("zarr", fresh)
      Outcome(n == grid.nChunks, s"$n chunks", s"${grid.nChunks} chunks")
    }),
    Op("write_netcdf", "io", Op.Write, grid.cells, ph => {
      val fresh = dir("netcdf.new"); deleteTree(new File(fresh))
      ph("io.write.netcdf")(writeNetcdf(fresh))
      val bytes = new File(s"$fresh/grid.nc").length()
      replace("netcdf", fresh)
      Outcome(bytes >= grid.cells * 8, s"$bytes bytes", s">= ${grid.cells * 8} bytes")
    }),
    readOp("zarr", d => Zarr.toLongDF(spark, d, "v")),
    readOp("netcdf", d => NetCDF.toLongDF(spark, d, "v")),
    readOp("hdf5", d => HDF5.toLongDF(spark, d, "v")))

  private def storeBytes(fmt: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(dir(fmt)))
  }

  /** Store sizes and single-threaded codec throughput over the written
    * files (traced runs only; timed outside the op window). */
  def layerMetrics(tr: Tracer): Seq[Metric] = {
    val mb = 1024.0 * 1024.0
    val cellBytes = grid.cells * 8.0
    // median of five single-threaded passes, each its own span
    def rate(span: String, bytes: Double)(f: => Unit): Metric = {
      val secs = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); tr.span(span)(f)
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(2)
      Metric(s"${span}_mb_s", bytes / mb / secs, "MiB/s")
    }
    val meta = Zarr.openMetaAny(spark, dir("zarr"), "v")
    val chunks = chunkFiles(dir("zarr")).map(f => Files.readAllBytes(f.toPath))
    val ncBytes = Files.readAllBytes(Paths.get(dir("netcdf"), "grid.nc"))
    val ncHdr = NetCDF.parseHeader(ncBytes)
    val h5Bytes = Files.readAllBytes(Paths.get(dir("hdf5"), "grid.nc4"))
    val h5 = HDF5.parseFile(h5Bytes)
    val plain = chunks.map(c => Zarr.decodeChunk(c, meta)).map { d =>
      val b = java.nio.ByteBuffer.allocate(d.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      d.foreach(b.putDouble); b.array()
    }
    val plainBytes = plain.map(_.length.toDouble).sum
    Seq("zarr", "netcdf", "hdf5").map(f =>
      Metric(s"io.$f.bytes_per_cell", storeBytes(f) / grid.cells.toDouble, "B")) ++
    Seq(
      Metric("io.zarr.chunks", chunks.size.toDouble, "count"),
      rate("codec.zarr.decode", plainBytes)(chunks.foreach(Zarr.decodeChunk(_, meta))),
      rate("codec.hdf5.decode", cellBytes)(HDF5.readVar(h5Bytes, h5, "v")),
      rate("codec.netcdf.decode", cellBytes)(NetCDF.readVar(ncBytes, ncHdr, "v")),
      rate("codec.blosc.encode", plainBytes)(
        plain.foreach(Blosc.compress(_, 8, "lz4", 5, 1))))
  }

  def cleanup(): Unit = deleteTree(new File(root))

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
