package graft.io

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Parquet directories graft writes itself, read back with the schema
  * recorded at write time instead of Spark's schema inference (which
  * submits one job per read to open a footer — the fixed cost of every
  * short interactive query over a snapshot or an index).
  *
  * [[write]] writes the data, then a `_SCHEMA` sidecar: the
  * `StructType.json` Spark reads the directory back with — data columns
  * first, then partition columns, every field nullable. Spark's file
  * listing skips `_`-prefixed names, as it skips `_SUCCESS`. [[read]]
  * passes the sidecar's schema to `spark.read.schema`, and falls back
  * to inference for a directory without one (written before sidecars
  * existed). External parquet is not read through here.
  *
  * Partition columns read back with the type inference gives their
  * directory names. For a non-null IntegerType column (graft's bucket
  * and cell columns) that is the written type; any other partition
  * column is resolved by ONE inference right after the write — one per
  * write, none per read.
  */
object ParquetDir {

  val SchemaFile = "_SCHEMA"

  /** The schema a directory holding `schema`'s rows reads back with, if
    * it is known without inference (every partition column is int).
    */
  def readBack(schema: StructType, partitionBy: Seq[String] = Nil): Option[StructType] = {
    val parts = partitionBy.map(schema(_))
    if (parts.exists(_.dataType != IntegerType)) None
    else Some(nullable(StructType(
      schema.filterNot(f => partitionBy.contains(f.name)) ++ parts)).asInstanceOf[StructType])
  }

  /** Write `df` to `dir` (Spark save `mode`), then its sidecar. An
    * append keeps the directory's sidecar and fails before writing
    * anything when the frame does not read back as it declares (its
    * schema differs, or a partition column is not int); an append into
    * a directory without one (legacy) stays without one.
    */
  def write(df: DataFrame, dir: String, mode: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val known = readBack(df.schema, partitionBy)
    val appending = mode == "append" && Files.exists(Paths.get(dir))
    val prior = if (appending) loadSchema(Paths.get(dir, SchemaFile)) else None
    for (p <- prior) require(known.contains(p),
      s"append to $dir: the frame's schema " +
        known.fold(s"(partitioned by non-int ${partitionBy.mkString(", ")})")(_.simpleString) +
        s" differs from the directory's declared ${p.simpleString}")
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
    if (!appending)
      saveSchema(Paths.get(dir, SchemaFile),
        known.getOrElse(df.sparkSession.read.parquet(dir).schema))
  }

  /** `dir` read with its sidecar's schema; inference when it has none. */
  def read(spark: SparkSession, dir: String): DataFrame =
    read(spark, loadSchema(Paths.get(dir, SchemaFile)), Seq(dir))

  /** One scan relation over `paths` with the given schema (inference
    * when `None`).
    */
  def read(spark: SparkSession, schema: Option[StructType], paths: Seq[String]): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(paths: _*)

  def saveSchema(file: Path, schema: StructType): Unit =
    Files.writeString(file, schema.json)

  def loadSchema(file: Path): Option[StructType] =
    if (Files.exists(file))
      Some(DataType.fromJson(Files.readString(file)).asInstanceOf[StructType])
    else None

  /** The union Spark's parquet schema merging computes: `a`'s fields in
    * order (nested structs, arrays and maps merged recursively), then
    * `b`'s new ones. Types that differ otherwise cannot be merged.
    */
  def union(a: StructType, b: StructType): StructType =
    StructType(a.fields.map(f => b.find(_.name == f.name)
        .fold(f)(g => f.copy(dataType = merge(f.dataType, g.dataType)))) ++
      b.fields.filterNot(g => a.fieldNames.contains(g.name)))

  private def merge(x: DataType, y: DataType): DataType = (x, y) match {
    case (s: StructType, t: StructType) => union(s, t)
    case (ArrayType(e1, n1), ArrayType(e2, n2)) => ArrayType(merge(e1, e2), n1 || n2)
    case (MapType(k1, v1, n1), MapType(k2, v2, n2)) =>
      MapType(merge(k1, k2), merge(v1, v2), n1 || n2)
    case _ if x == y => x
    case _ => throw new IllegalArgumentException(
      s"cannot merge incompatible types ${x.simpleString} and ${y.simpleString}")
  }

  /** Every field, element and map value nullable — how Spark reads
    * parquet back.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case o => o
  }
}
