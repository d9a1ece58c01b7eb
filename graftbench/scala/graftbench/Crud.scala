package graftbench

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.api.{BucketedParquetCollection, Collection, ParquetCollection}
import graft.query.Filter
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** The write half of the `serve` session: writes against orders (a
  * versioned collection and a bucketed one), the BM25-indexed documents
  * and the IVF-indexed embeddings, each followed by a read-your-writes op
  * on the keys it wrote. Every mutation commits a new snapshot version
  * (graft's only flush policy); the serve round ends with a vacuum. The
  * client keeps a model of every collection it writes, so every
  * read-your-writes result and every row count after a mutation is
  * checked.
  */
final class Crud(ctx: Ctx) {
  private val spark = ctx.spark
  private var root: String = _
  private var orders: ParquetCollection = _
  private var bucketed: BucketedParquetCollection = _
  private var docs: ParquetCollection = _
  private var embs: ParquetCollection = _
  private def roots = Seq("orders", "orders_bucketed", "documents", "embeddings").map(n => s"$root/$n")

  // client-side model: pk -> row, for both orders layouts
  private val model = mutable.Map[Long, Row]()
  private val bModel = mutable.Map[Long, Row]()
  private var nDocs = 0L
  private var nEmbs = 0L
  private var ordersSchema: StructType = _
  private var docsSchema: StructType = _
  private var embsSchema: StructType = _

  // write accounting: bytes that landed under the collection dirs, and
  // the parquet bytes of the deltas the client asked to write
  private var bytesWritten = 0L
  private val deltas = mutable.ArrayBuffer[DataFrame]()
  private val bytesBySpan = mutable.Map[String, Long]().withDefaultValue(0L)
  private var before: Map[String, Long] = Map.empty

  /** Creates the orders collections; `docs` (BM25-indexed) and `embs`
    * (IVF-indexed) are the serve workload's.
    */
  def setup(root: String, docs: ParquetCollection, embs: ParquetCollection): Unit = {
    this.root = root
    this.docs = docs
    this.embs = embs
    orders = ctx.span("api.create_collection") {
      val c = new ParquetCollection(spark, s"$root/orders", "orders")
      c.replace(ctx.input("orders")); c
    }
    bucketed = ctx.span("api.create_collection") {
      val c = new BucketedParquetCollection(spark, s"$root/orders_bucketed", "orders",
        pk = "o_orderkey", nBuckets = 8)
      c.replace(ctx.input("orders")); c
    }
  }

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def sameRows(got: Array[Row], want: Iterable[Row]): Option[String] = {
    def norm(rs: Iterable[Row]) = rs.map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    if (norm(got) == norm(want)) None
    else Some(s"read-your-writes mismatch: got ${norm(got).take(2)} want ${norm(want).take(2)}")
  }

  private def countIs(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what has $got rows, expected $want")

  private var rng: SplittableRandom = _
  private var vocab: IndexedSeq[String] = _
  private var vecs: Array[Seq[Float]] = _
  private var hot: IndexedSeq[Long] = _
  private var nextKey, nextDoc, nextVec = 0L
  private val Epoch = java.time.LocalDate.of(1992, 1, 1)

  /** Loads the client's model of the freshly set-up collections. */
  def start(rng: SplittableRandom): Unit = {
    this.rng = rng
    val in = ctx.input("orders")
    ordersSchema = in.schema
    in.collect().foreach(r => model(r.getLong(0)) = r)
    bModel ++= model
    docsSchema = ctx.input("documents").schema
    embsSchema = ctx.input("embeddings").schema
    nDocs = ctx.rows("documents")
    nEmbs = ctx.rows("embeddings")
    vocab = (0 until ctx.meta.get("vocab").size()).map(i => ctx.meta.get("vocab").get(i).asText())
    vecs = ctx.input("embeddings").select("embedding").collect().map(_.getSeq[Float](0))
    hot = IndexedSeq.fill(500)(rng.nextInt(model.size).toLong)
    nextKey = model.keys.max + 1
    nextDoc = nDocs
    nextVec = nEmbs
  }

  private def z(n: Int) = Draw.zipf(rng, n)
  private def orderRow(k: Long): Row = Row(k, 1L + rng.nextInt(2000),
    Seq("O", "F", "P")(rng.nextInt(3)), math.round(rng.nextDouble() * 4e7) / 100.0,
    java.sql.Date.valueOf(Epoch.plusDays(rng.nextInt(2500))), "3-MEDIUM")
  private def freshKeys(n: Int) = (0 until n).map { _ => nextKey += 1; nextKey - 1 }
  private def hotKeys(n: Int) = (0 until n).map(_ => hot(z(hot.size))).distinct

  private def mutation(span: String, delta: Option[DataFrame])(body: => Unit)(apply: => Option[String]): Op =
    Op(span, "write", span, () => { body; Outcome(0) },
      before = () => { before = roots.flatMap(Files2.sizes).toMap },
      after = _ => {
        val now = roots.flatMap(Files2.sizes).toMap
        val b = now.collect { case (f, n) if before.get(f) != Some(n) => n }.sum
        bytesWritten += b
        bytesBySpan(span) += b
        deltas ++= delta
        apply
      })

  private def read(span: String, key: String)(body: => Array[Row])(check: Array[Row] => Option[String]): Op = {
    var got: Array[Row] = null
    Op(span, "read", key, () => { got = body; Outcome(got.length) }, after = _ => check(got))
  }

  private def readOrders(keys: Seq[Long]): Op =
    read("api.read_after_write", "orders")(
      new Collection("orders", orders.df).get("o_orderkey", keys).collect())(
      got => sameRows(got, keys.flatMap(model.get)))

  val Kinds = Seq("upsert", "bupsert", "insert", "delete", "bm25", "ivf")

  /** A write of the given kind and its read-your-writes op. */
  def write(kind: String): Seq[Op] =
    kind match {
      case "upsert" =>
        val rows = (hotKeys(7) ++ freshKeys(3)).map(orderRow)
        val delta = local(rows, ordersSchema)
        Seq(mutation("api.upsert", Some(delta))(orders.upsert(delta, Seq("o_orderkey"))) {
          rows.foreach(r => model(r.getLong(0)) = r)
          countIs("orders", orders.count(), model.size)
        }, readOrders(rows.map(_.getLong(0))))
      case "bupsert" =>
        val rows = (hotKeys(7) ++ freshKeys(3)).map(orderRow)
        val delta = local(rows, ordersSchema)
        val keys = rows.map(_.getLong(0))
        Seq(mutation("api.bucketed_upsert", Some(delta))(bucketed.upsert(delta)) {
          rows.foreach(r => bModel(r.getLong(0)) = r)
          countIs("orders_bucketed", bucketed.count(), bModel.size)
        }, read("api.read_after_write", "orders_bucketed")(
          Seq(keys.head, keys.last).map(k => bucketed.findByKey(k)).reduce(_ union _).collect())(
          got => sameRows(got, Seq(keys.head, keys.last).flatMap(bModel.get))))
      case "insert" =>
        val rows = freshKeys(10).map(orderRow)
        val delta = local(rows, ordersSchema)
        Seq(mutation("api.insert", Some(delta))(orders.insert(delta)) {
          rows.foreach(r => model(r.getLong(0)) = r)
          countIs("orders", orders.count(), model.size)
        }, readOrders(rows.map(_.getLong(0))))
      case "delete" =>
        val k = hot(z(hot.size))
        val keys = (k until k + 3).toSeq
        val where = Filter.parse(Map("o_orderkey" -> Map("$gte" -> k, "$lt" -> (k + 3))))
        Seq(mutation("api.delete_where", None)(orders.deleteWhere(where)) {
          keys.foreach(model.remove)
          countIs("orders", orders.count(), model.size)
        }, readOrders(keys))
      case "bm25" =>
        val ids = (0 until 3).map { _ => nextDoc += 1; nextDoc - 1 }
        // a token no other document has, so the new doc must rank first
        def marker(id: Long) = "uq" + id.toString.map(c => ('a' + (c - '0')).toChar)
        val rows = ids.map { id =>
          val text = (Seq.fill(30)(vocab(z(vocab.size))) :+ marker(id)).mkString(" ")
          Row(id, text, "en", "src0", text.length.toLong)
        }
        val delta = local(rows, docsSchema)
        Seq(mutation("index.bm25_append", Some(delta))(docs.insertBm25Indexed(delta, "doc_id", "text")) {
          nDocs += rows.size
          countIs("documents", docs.count(), nDocs)
        }, read("api.read_after_write", "documents")(
          docs.searchBm25Indexed("text", marker(ids.last), k = 3).collect())(
          got => if (got.headOption.exists(_.getLong(0) == ids.last)) None
            else Some(s"bm25 append: ${ids.last} not found, got ${got.mkString}")))
      case _ =>
        val ids = (0 until 5).map { _ => nextVec += 1; nextVec - 1 }
        val rows = ids.map { id =>
          val base = vecs(rng.nextInt(vecs.length))
          Row(id, base.map(x => (x + (rng.nextDouble() - 0.5) * 0.02).toFloat), 0, 0)
        }
        val delta = local(rows, embsSchema)
        val probe = rows.last.getSeq[Float](1).map(_.toDouble)
        Seq(mutation("ann.ivf_append", Some(delta))(embs.insertIndexed(delta, "vec_id", "embedding")) {
          nEmbs += rows.size
          countIs("embeddings", embs.count(), nEmbs)
        }, read("api.read_after_write", "embeddings")(
          embs.searchVector("embedding", probe, k = 3).collect())(
          got => if (got.exists(_.getLong(0) == ids.last)) None
            else Some(s"ivf append: ${ids.last} not found, got ${got.mkString}")))
    }

  def vacuum(): Op = mutation("api.vacuum", None) {
    orders.vacuum(); bucketed.vacuum(); docs.vacuum(); embs.vacuum()
  }(countIs("orders", orders.count(), model.size))


  def finish(checks: ArrayNode, extra: ObjectNode): Unit = {
    val onDisk = roots.flatMap(Files2.sizes).map(_._2).sum
    val fresh = Seq(orders.df, bucketed.df, docs.df, embs.df).zipWithIndex
      .map { case (d, i) => Files2.parquetBytes(d, s"${ctx.work}/fresh$i") }.sum
    val deltaBytes = Files2.parquetBytesEach(deltas.toSeq, s"${ctx.work}/deltas")
    extra.put("bytes_written", bytesWritten).put("delta_bytes", deltaBytes)
      .put("on_disk_bytes", onDisk).put("fresh_snapshot_bytes", fresh)
      .put("write_amp", bytesWritten.toDouble / math.max(deltaBytes, 1L))
      .put("space_amp", onDisk.toDouble / math.max(fresh, 1L))
    val bs = extra.putObject("bytes_written_by_span")
    bytesBySpan.foreach { case (k, v) => bs.put(k, v) }
    // final state, checked once more against the client's model
    checks.add(Json.verdict("orders final rows", orders.count() == model.size,
      s"${orders.count()} vs ${model.size}"))
    checks.add(Json.verdict("orders_bucketed final rows", bucketed.count() == bModel.size,
      s"${bucketed.count()} vs ${bModel.size}"))
  }
}
