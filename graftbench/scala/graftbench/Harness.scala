package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one op returns: the rows it produced and, for ops whose output
  * is checked afterwards, a function making its check entries (called
  * untimed, once per distinct op key).
  */
final case class Outcome(rows: Long, checks: () => Seq[ObjectNode] = () => Nil)

/** One client request: a call into one graft layer (`span` names it),
  * `kind` is "read" or "write", `key` identifies its parameters.
  * `before` and `after` run untimed around it; `after` returns an error
  * when the op's result is wrong, which counts the op as failed.
  */
final case class Op(span: String, kind: String, key: String, run: () => Outcome,
    before: () => Unit = () => (),
    after: Outcome => Option[String] = _ => None)

final case class Sample(span: String, kind: String, key: String, seconds: Double,
    ok: Boolean, error: String, rows: Long)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val meta: JsonNode,
    val inputs: String, val work: String) {
  val json = JsonNodeFactory.instance
  def rows(table: String): Int = meta.get("rows").get(table).asInt()
  def input(table: String): DataFrame = spark.read.parquet(s"$inputs/$table.parquet")
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** A workload: a set-up that can run several times into fresh
  * directories, a seeded op stream, and the output checks that run
  * untimed after the timed loop.
  */
trait Workload {
  /** Build collections and indexes under `root`; the last call's state
    * is the one the ops run against.
    */
  def setup(root: String): Unit
  /** Ops run untimed before the loop, so every op kind has compiled its
    * code paths once; they run against the same state as the loop.
    */
  def warmupOps(rng: SplittableRandom): Seq[Op]
  /** Seeded op stream (the seed is the benchmark's `--seed`). */
  def ops(rng: SplittableRandom): Iterator[Op]
  /** The loop stops only after a multiple of this many ops. */
  def round: Int
  /** True when running the same ops twice gives the same results. */
  def replayable: Boolean
  /** Untimed checks after the loop; adds entries to `checks` and any
    * workload-specific numbers to `extra`.
    */
  def finish(checks: ArrayNode, extra: ObjectNode): Unit
}

object Json {
  val mapper = new ObjectMapper()
  private val f = JsonNodeFactory.instance

  def value(v: Any): JsonNode = v match {
    case null => f.nullNode()
    case x: Long => f.numberNode(x)
    case x: Int => f.numberNode(x)
    case x: Double => f.numberNode(x)
    case x: Float => f.numberNode(x.toDouble)
    case x: Boolean => f.booleanNode(x)
    case x: String => f.textNode(x)
    case x: scala.collection.Seq[_] =>
      val a = f.arrayNode(); x.foreach(e => a.add(value(e))); a
    case r: Row => rowObject(r)
    case other => f.textNode(other.toString) // dates print as yyyy-mm-dd
  }

  def rowObject(r: Row): ObjectNode = {
    val o = f.objectNode()
    r.schema.fieldNames.zipWithIndex.foreach { case (n, i) => o.set[JsonNode](n, value(r.get(i))) }
    o
  }

  def rows(rs: Seq[Row]): ArrayNode = {
    val a = f.arrayNode(); rs.foreach(r => a.add(rowObject(r))); a
  }

  /** A check entry: Spark's `rows` must equal DuckDB's answer to `sql`
    * (mode "equal"), or be a subset of another entry's rows ("subset").
    */
  def check(name: String, sql: String, rs: Seq[Row], mode: String = "equal",
      of: String = null): ObjectNode = checkRows(name, sql, rows(rs), mode, of)

  def checkRows(name: String, sql: String, rs: ArrayNode, mode: String = "equal",
      of: String = null): ObjectNode = {
    val o = f.objectNode()
    o.put("name", name).put("sql", sql).put("mode", mode)
    if (of != null) o.put("of", of)
    o.set[JsonNode]("rows", rs)
    o
  }

  /** A check decided in the JVM (e.g. indexed vs scan-time search). */
  def verdict(name: String, ok: Boolean, detail: String): ObjectNode = {
    val o = f.objectNode()
    o.put("name", name).put("mode", "verdict").put("ok", ok).put("detail", detail)
    o
  }

  def write(p: Path, n: JsonNode): Unit = mapper.writeValue(p.toFile, n)
}

/** Seeded parameter draws. */
object Draw {
  /** Index in [0, n) with P(i) ∝ 1/(i+1)^s: a few hot values repeat,
    * the long tail keeps most draws cold.
    */
  def zipf(rng: SplittableRandom, n: Int, s: Double = 1.1): Int = {
    val h = (1 to n).map(i => 1.0 / math.pow(i, s)).sum
    var u = rng.nextDouble() * h
    var i = 0
    while (i < n - 1 && { u -= 1.0 / math.pow(i + 1, s); u > 0 }) i += 1
    i
  }

  /** Seeded Fisher-Yates shuffle. */
  def shuffle[T](rng: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

object Files2 {
  import scala.jdk.CollectionConverters._

  /** Regular files under `root` with their sizes. */
  def sizes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally w.close()
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }
  }

  /** Summed bytes of each of `dfs` written as its own parquet file, one
    * Spark job per distinct schema.
    */
  def parquetBytesEach(dfs: Seq[DataFrame], scratch: String): Long =
    dfs.groupBy(_.schema).values.map { group =>
      import org.apache.spark.sql.functions.{col, lit}
      deleteTree(scratch)
      group.zipWithIndex.map { case (d, i) => d.withColumn("__delta", lit(i)) }
        .reduce(_ union _)
        .repartition(group.size, col("__delta"))
        .write.partitionBy("__delta").parquet(scratch)
      val n = sizes(scratch).filter(_._1.endsWith(".parquet")).values.sum
      deleteTree(scratch)
      n
    }.sum

  /** Bytes of `df` written as one fresh parquet snapshot. */
  def parquetBytes(df: DataFrame, scratch: String): Long = {
    deleteTree(scratch)
    df.coalesce(1).write.parquet(scratch)
    val n = sizes(scratch).filter(_._1.endsWith(".parquet")).values.sum
    deleteTree(scratch)
    n
  }
}
