package graftbench

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.api.{Collection, ParquetCollection, Query, SortKey}
import graft.query.Filter
import java.util.SplittableRandom
import org.apache.spark.sql.Row

/** One where-clause predicate, rendered both as a graft Mongo-style
  * where map and as DuckDB SQL for the output check.
  */
final case class Pred(field: String, op: String, v: Any) {
  def sql: String = op match {
    case "$eq" => s"$field = ${Pred.lit(v)}"
    case "$in" => s"$field IN (${v.asInstanceOf[Seq[Any]].map(Pred.lit).mkString(", ")})"
    case "$gte" => s"$field >= ${Pred.lit(v)}"
    case "$lt" => s"$field < ${Pred.lit(v)}"
  }
}

object Pred {
  def lit(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: java.sql.Date => s"DATE '$d'"
    case x: Double => s"CAST($x AS DOUBLE)"
    case x => x.toString
  }

  /** Mongo-style where map: `{f: v}` for equality, `{f: {$op: v, ...}}`
    * otherwise; keys are ANDed, as Filter.parse reads them.
    */
  def where(ps: Seq[Pred]): Map[String, Any] =
    ps.groupBy(_.field).map { case (f, group) =>
      if (group.size == 1 && group.head.op == "$eq") f -> group.head.v
      else f -> group.map(p => p.op -> p.v).toMap
    }

  def sql(ps: Seq[Pred]): String = if (ps.isEmpty) "TRUE" else ps.map(_.sql).mkString(" AND ")
}

/** `serve`: one closed-loop client in an interactive session over
  * persisted collections, in rounds of a fixed mix: ten reads in seeded
  * order (four finds, one per where shape, two gets and one facets query
  * over lineitem, one trigram and one BM25 search over documents, one IVF
  * probe over embeddings), interleaved with the six writes of the
  * [[Crud]] half (each with its read-your-writes op), then a vacuum.
  * Every round holds the same ops, so runs compare; read parameters come
  * from seeded Zipf draws over fixed pools, so hot values repeat (a
  * result or plan cache would show) while most draws stay cold. Document
  * writes go through the BM25 index, which leaves the trigram index
  * stale: from the warm-up's first document write on, trigram search
  * takes graft's inline fallback over the current snapshot.
  */
final class Serve(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val crud = new Crud(ctx)
  private var lineitem: Collection = _
  private var docs: ParquetCollection = _
  private var embs: ParquetCollection = _
  private var root: String = _
  private val Select = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
  private val Sort = Seq(SortKey("l_orderkey"), SortKey("l_linenumber"))
  private val Slots = Seq("l_returnflag", "l_linestatus", "l_shipmode")
  private val Epoch = java.time.LocalDate.of(1992, 1, 1)
  private val Reads = Seq("find0", "find1", "find2", "find3", "facets", "get", "get",
    "trigram", "bm25", "vector")
  private var read: String => Op = _
  private val BM25CheckQueries = 1

  def replayable = false

  def setup(root: String): Unit = {
    this.root = root
    def create(name: String): ParquetCollection = ctx.span("api.create_collection") {
      val c = new ParquetCollection(spark, s"$root/$name", name)
      c.replace(ctx.input(name))
      c
    }
    val li = create("lineitem")
    docs = create("documents")
    embs = create("embeddings")
    ctx.span("index.trigram_build")(docs.attachIndex("doc_id", "text"))
    ctx.span("index.bm25_build")(docs.attachBm25Index("doc_id", "text", nBuckets = 8))
    ctx.span("ann.ivf_attach")(embs.attachVectorIndex("vec_id", "embedding", nCells = 8, trainIters = 1))
    crud.setup(root, docs, embs)
    lineitem = new Collection("lineitem", li.df)
  }

  /** Every read kind, every write kind and a vacuum, once each. */
  def warmupOps(rng: SplittableRandom): Seq[Op] = {
    start(rng)
    Reads.distinct.map(read) ++ crud.Kinds.flatMap(crud.write) :+ crud.vacuum()
  }

  def ops(rng: SplittableRandom): Iterator[Op] = Iterator.continually {
    val reads = Draw.shuffle(rng, Reads).map(read)
    val writes = crud.Kinds.map(crud.write)
    reads.map(Seq(_)).zipAll(writes, Nil, Nil).flatMap { case (r, w) => r ++ w } :+ crud.vacuum()
  }.flatten

  override def round: Int = Reads.size + 2 * crud.Kinds.size + 1

  /** Draws the parameter pools and the client's model of the writes. */
  private def start(rng: SplittableRandom): Unit = {
    crud.start(rng)
    val meta = ctx.meta
    val nSupp = meta.get("lineitem_n_supp").asInt()
    val nPart = meta.get("lineitem_n_part").asInt()
    val nOrders = meta.get("lineitem_n_orders").asInt()
    val vocab = (0 until meta.get("vocab").size()).map(i => meta.get("vocab").get(i).asText())
    def pool(n: Int, range: Int): IndexedSeq[Long] = IndexedSeq.fill(n)(1L + rng.nextInt(range))
    val supps = pool(60, nSupp)
    val parts = pool(300, nPart)
    val orderIds = pool(300, nOrders).map(_ - 1)
    val queries = IndexedSeq.fill(150)(
      s"${vocab(rng.nextInt(40))} ${vocab(40 + rng.nextInt(vocab.size - 40))}")
    val vecs = ctx.input("embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).sortBy(_._1)
    val vecPool = IndexedSeq.fill(300)(vecs(rng.nextInt(vecs.length)))

    def z(n: Int) = Draw.zipf(rng, n)
    def date(i: Int) = java.sql.Date.valueOf(Epoch.plusDays(30L * i))
    def where(kind: Int): Seq[Pred] = kind match {
      case 0 => Seq(Pred("l_suppkey", "$eq", supps(z(supps.size))))
      case 1 =>
        val i = z(parts.size - 5)
        Seq(Pred("l_partkey", "$in", parts.slice(i, i + 5)))
      case 2 =>
        val q = 1.0 + z(45); val d = z(80)
        Seq(Pred("l_quantity", "$gte", q), Pred("l_quantity", "$lt", q + 3.0),
          Pred("l_shipdate", "$gte", date(d)), Pred("l_shipdate", "$lt", date(d + 2)))
      case _ =>
        Seq(Pred("l_returnflag", "$eq", Seq("A", "N", "R")(z(3))),
          Pred("l_linestatus", "$eq", Seq("O", "F")(z(2))),
          Pred("l_discount", "$gte", 0.02 + 0.01 * z(8)),
          Pred("l_suppkey", "$lt", 1L + nSupp / 4 + z(nSupp / 2)))
    }
    read = {
      case "find0" => find(where(0))
      case "find1" => find(where(1))
      case "find2" => find(where(2))
      case "find3" => find(where(3))
      // the AND where constrains two of the slots: own-column exclusion
      case "facets" => facets(where(3))
      case "get" =>
        val i = z(orderIds.size - 4)
        get(orderIds.slice(i, i + 4))
      case "trigram" => trigram(queries(z(queries.size)))
      case "bm25" => bm25(queries(z(queries.size)))
      case _ => vector(vecPool(z(vecPool.size)))
    }
  }

  private def find(ps: Seq[Pred]): Op = {
    val key = s"find ${Pred.sql(ps)}"
    Op("query.find", "read", key, () => {
      val rows = lineitem.find(Filter.parse(Pred.where(ps)), Select, Sort, limit = 50).collect()
      Outcome(rows.length, () => Seq(Json.check(key,
        s"SELECT ${Select.mkString(", ")} FROM lineitem WHERE ${Pred.sql(ps)} " +
          "ORDER BY l_orderkey, l_linenumber LIMIT 50", rows.toSeq)))
    })
  }

  private def facets(ps: Seq[Pred]): Op = {
    val key = s"facets ${Pred.sql(ps)}"
    Op("query.facets", "read", key, () => {
      val r = lineitem.query(Query(where = Filter.parse(Pred.where(ps)), selectCols = Select,
        sortBy = Sort, limit = 10, facetSlots = Slots))
      val rows = r.rows.collect()
      val counts = Slots.map(s => s -> r.facetCounts(s).collect())
      Outcome(rows.length + counts.map(_._2.length).sum, () => {
        val fr = ctx.json.arrayNode()
        counts.foreach { case (s, rs) => rs.foreach { row =>
          fr.addObject().put("facet_field", s).put("facet_value", row.getString(0))
            .put("count", row.getLong(1))
        } }
        // own-column exclusion: a slot's count ignores the predicates
        // on that slot's own column
        val facetSql = Slots.map { s =>
          s"SELECT '$s' AS facet_field, CAST($s AS VARCHAR) AS facet_value, count(*) AS count " +
            s"FROM lineitem WHERE ${Pred.sql(ps.filterNot(_.field == s))} GROUP BY 2"
        }.mkString(" UNION ALL ")
        val n = ctx.json.arrayNode(); n.addObject().put("n", r.numRows)
        Seq(
          Json.check(key + " rows", s"SELECT ${Select.mkString(", ")} FROM lineitem " +
            s"WHERE ${Pred.sql(ps)} ORDER BY l_orderkey, l_linenumber LIMIT 10", rows.toSeq),
          Json.checkRows(key + " num_rows",
            s"SELECT count(*) AS n FROM lineitem WHERE ${Pred.sql(ps)}", n),
          Json.checkRows(key + " counts", facetSql, fr))
      })
    })
  }

  private def get(ids: Seq[Long]): Op = {
    val key = s"get ${ids.mkString(",")}"
    Op("api.get", "read", key, () => {
      val rows = lineitem.get("l_orderkey", ids).collect()
      Outcome(rows.length, () => Seq(Json.check(key,
        s"SELECT * FROM lineitem WHERE l_orderkey IN (${ids.mkString(", ")})", rows.toSeq)))
    })
  }

  private def trigram(q: String): Op = {
    val key = s"trigram $q"
    var rows: Array[Row] = null
    Op("index.search_trigram", "read", key, () => {
      rows = docs.search("doc_id", "text", q, k = 10).collect()
      Outcome(rows.length)
    }, after = _ => {
      val scores = rows.map(_.getDouble(1))
      if (rows.nonEmpty && rows.length <= 10 && scores.sameElements(scores.sorted.reverse)) None
      else Some(s"trigram '$q': ${rows.mkString}")
    })
  }

  private var bm25Checked = 0

  private def bm25(q: String): Op = {
    val key = s"bm25 $q"
    Op("index.search_bm25", "read", key, () => {
      val rows = docs.searchBm25Indexed("text", q, k = 10).collect()
      Outcome(rows.length, () => {
        // indexed BM25 must equal the scan-time Collection.searchBm25, over
        // the documents as they stand after the loop's appends (the first
        // BM25CheckQueries distinct queries: each check costs two searches)
        bm25Checked += 1
        if (bm25Checked > BM25CheckQueries) Nil
        else {
          val now = docs.searchBm25Indexed("text", q, k = 10).collect()
          val scan = new Collection("documents", docs.df).searchBm25("text", q, k = 10).collect()
          val a = now.toSeq.map(r => (r.getLong(0), r.getDouble(1)))
          val b = scan.toSeq.map(r => (r.getLong(0), r.getDouble(1)))
          Seq(Json.verdict(key, a == b, s"indexed ${a.take(3)} scan ${b.take(3)}"))
        }
      })
    })
  }

  private def vector(v: (Long, Seq[Double])): Op = {
    val key = s"vector ${v._1}"
    Op("ann.ivf_probe", "read", key, () => {
      val rows = embs.searchVector("embedding", v._2, k = 10, nProbe = 4).collect()
      Outcome(rows.length, () => {
        // the query is a stored vector: the probe must return it with
        // the top score (a jittered copy may tie it at 4 decimals)
        val top = rows.headOption.map(_.getDouble(1)).getOrElse(0.0)
        Seq(Json.verdict(key, rows.length == 10 && top >= 0.9999 &&
          rows.exists(r => r.getLong(0) == v._1 && r.getDouble(1) == top),
          s"rows ${rows.take(3).mkString}"))
      })
    })
  }

  override def finish(checks: ArrayNode, extra: ObjectNode): Unit = {
    crud.finish(checks, extra)
    val t = extra.putObject("tables")
    Seq("lineitem").foreach(n =>
      t.put(n, s"$root/$n/v_0/*.parquet"))
  }
}
