package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output gate. Every registry op is timed through ONE action that
  * returns the row count plus an order-independent sum of `xxhash64`
  * over all output columns. Hashing every column also means no column
  * of the op can be pruned away, which a bare `.count()` allows. */
object Gate {

  final case class Fingerprint(rows: Long, hash: String) {
    override def toString: String = s"$rows $hash"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The fingerprint plan of `df`. Columns are renamed by position so
    * duplicate output names (self-joins) stay addressable; map-typed
    * columns, which `xxhash64` refuses, are hashed through their JSON. */
  def fingerprintDF(df: DataFrame): DataFrame = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val zero = lit(0).cast(DecimalType(38, 0))
    pos.agg(count(lit(1)).as("rows"),
      coalesce(sum(h.cast(DecimalType(38, 0))), zero).as("hash"))
  }

  def read(fp: DataFrame): Fingerprint = {
    val r = fp.collect()(0)
    Fingerprint(r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** Expected-fingerprint file: one `name rows hash` line per op. */
  def load(path: String): Map[String, Fingerprint] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else new String(Files.readAllBytes(Paths.get(path)), UTF_8)
      .split("\n").iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, hash) = l.split("\\s+")
        n -> Fingerprint(rows.toLong, hash)
      }.toMap

  def save(path: String, fps: Map[String, Fingerprint], header: String): Unit = {
    val body = fps.toSeq.sortBy(_._1).map { case (n, f) => s"$n $f" }
    Files.write(Paths.get(path),
      (s"# $header" +: body).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
