package graftbench

import java.time.LocalDate
import scala.concurrent.ExecutionContext
import scala.util.Random
import org.apache.spark.sql.types._
import graft.etl.{Bulk, Tables}
import graft.schema.{DescribeResponse, Ddl, Mapping}
import graft.soql.Soql

/** One SOQL text request and its DuckDB twin with the same literals. */
final case class Req(template: String, soql: String, oracle: String,
    today: Option[LocalDate] = None)

/** The SOQL shapes ops.SoqlFront registers, with seeded literals,
  * thresholds and field lists. Each yields the SOQL text and the DuckDB
  * SQL whose rows must equal the collected result as a multiset. */
object Templates {
  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def between(r: Random, lo: Int, hi: Int): Int =
    lo + r.nextInt(hi - lo + 1)
  /** A non-empty seeded subset, in declaration order. */
  private def subset[T](r: Random, xs: Seq[T]): Seq[T] = {
    val s = xs.filter(_ => r.nextDouble() < 0.5)
    if (s.isEmpty) Seq(pick(r, xs)) else s
  }
  private def ts(d: LocalDate) = s"TIMESTAMP '$d 00:00:00'"

  /** `flags INCLUDES (...)` as a predicate over the two source columns:
    * a row matches an item when it carries every value of the item. */
  private def flagItems(r: Random): Seq[Seq[String]] =
    Seq.fill(2)(Seq(pick(r, Seq("A", "N", "R"))) ++
      (if (r.nextBoolean()) Seq(pick(r, Seq("O", "F"))) else Nil))
  private def flagSql(items: Seq[Seq[String]]): String =
    items.map(_.map(v => s"(l_returnflag = '$v' OR l_linestatus = '$v')")
      .mkString("(", " AND ", ")")).mkString("(", " OR ", ")")
  private def flagSoql(items: Seq[Seq[String]]): String =
    items.map(i => s"'${i.mkString(";")}'").mkString("(", ", ", ")")

  val names: Seq[String] = Seq("dot", "dot2", "children", "datelit",
    "datefn", "having", "rollup", "includes", "excludes", "page")

  def make(name: String, r: Random, nOrders: Long): Req = name match {
    case "dot" =>
      val seg = pick(r, segments)
      val t = between(r, 200, 300) * 1000
      val extra = subset(r, Seq(
        "customer.c_name" -> "c_name AS customer_c_name",
        "customer.c_acctbal" -> "c_acctbal AS customer_c_acctbal",
        "o_orderstatus" -> "o_orderstatus",
        "o_totalprice" -> "o_totalprice",
        "o_orderdate" -> "o_orderdate"))
      Req(name,
        s"SELECT o_orderkey, customer.c_mktsegment, " +
          s"${extra.map(_._1).mkString(", ")} FROM orders" +
          s" WHERE customer.c_mktsegment = '$seg' AND o_totalprice > $t" +
          " ORDER BY o_orderkey",
        s"SELECT o_orderkey, c_mktsegment AS customer_c_mktsegment, " +
          s"${extra.map(_._2).mkString(", ")}" +
          " FROM orders LEFT JOIN customer ON o_custkey = c_custkey" +
          s" WHERE c_mktsegment = '$seg' AND o_totalprice > $t")
    case "dot2" =>
      val reg = pick(r, regions)
      val t = between(r, 250, 350) * 1000
      Req(name,
        "SELECT o_orderkey, customer.nation.n_name FROM orders" +
          s" WHERE customer.nation.region.r_name = '$reg'" +
          s" AND o_totalprice > $t ORDER BY o_orderkey",
        "SELECT o_orderkey, n_name AS customer_nation_n_name FROM orders" +
          " LEFT JOIN customer ON o_custkey = c_custkey" +
          " LEFT JOIN nation ON c_nationkey = n_nationkey" +
          " LEFT JOIN region ON n_regionkey = r_regionkey" +
          s" WHERE r_name = '$reg' AND o_totalprice > $t")
    case "children" =>
      val st = pick(r, Seq("O", "F", "P"))
      val k = between(r, 1, 4)
      Req(name,
        "SELECT c_custkey, (SELECT o_orderkey FROM orders" +
          s" WHERE o_orderstatus = '$st' ORDER BY o_totalprice DESC" +
          s" LIMIT $k) FROM customer ORDER BY c_custkey",
        "SELECT c_custkey, COALESCE(n.l, '') AS orders_o_orderkey_list" +
          " FROM customer LEFT JOIN (SELECT o_custkey," +
          " array_to_string(list(o_orderkey ORDER BY rk), ',') AS l" +
          " FROM (SELECT o_custkey, o_orderkey, row_number() OVER" +
          " (PARTITION BY o_custkey ORDER BY o_totalprice DESC," +
          s" o_orderkey) AS rk FROM orders WHERE o_orderstatus = '$st')" +
          s" WHERE rk <= $k GROUP BY o_custkey) n ON c_custkey = n.o_custkey")
    case "datelit" =>
      val today = LocalDate.of(2024, 1, between(r, 8, 30))
      val n = between(r, 3, 5)
      Req(name,
        "SELECT event_id, event_type FROM events" +
          s" WHERE ts >= LAST_N_DAYS:$n AND ts < TODAY ORDER BY event_id",
        "SELECT event_id, event_type FROM events" +
          s" WHERE ts >= ${ts(today.minusDays(n))} AND ts < ${ts(today)}",
        today = Some(today))
    case "datefn" =>
      val st = pick(r, Seq("O", "F", "P"))
      val t = between(r, 100, 200) * 1000
      Req(name,
        "SELECT CALENDAR_YEAR(o_orderdate) yr, CALENDAR_MONTH(o_orderdate)" +
          " mo, COUNT() n, MAX(o_totalprice) hi FROM orders" +
          s" WHERE o_orderstatus = '$st' AND o_totalprice > $t" +
          " GROUP BY CALENDAR_YEAR(o_orderdate), CALENDAR_MONTH(o_orderdate)" +
          " ORDER BY yr, mo",
        "SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo," +
          " COUNT(*) AS n, MAX(o_totalprice) AS hi FROM orders" +
          s" WHERE o_orderstatus = '$st' AND o_totalprice > $t GROUP BY 1, 2")
    case "having" =>
      val t = between(r, 200, 300) * 1000
      // per-nation expectation at this threshold, so HAVING keeps some
      // groups and drops others at any scale
      val perNation = nOrders * (500000.0 - t) / 499000.0 / 25.0
      val h = math.round(perNation * (0.9 + 0.2 * r.nextDouble()))
      Req(name,
        "SELECT customer.nation.n_name, COUNT() n FROM orders" +
          s" WHERE o_totalprice > $t GROUP BY customer.nation.n_name" +
          s" HAVING COUNT() > $h ORDER BY customer.nation.n_name",
        "SELECT n_name AS customer_nation_n_name, COUNT(*) AS n FROM orders" +
          " LEFT JOIN customer ON o_custkey = c_custkey" +
          " LEFT JOIN nation ON c_nationkey = n_nationkey" +
          s" WHERE o_totalprice > $t GROUP BY 1 HAVING COUNT(*) > $h")
    case "rollup" =>
      val t = between(r, 100, 300) * 1000
      Req(name,
        "SELECT o_orderpriority, o_orderstatus, COUNT() n," +
          " COUNT_DISTINCT(o_custkey) nc FROM orders" +
          s" WHERE o_totalprice > $t" +
          " GROUP BY ROLLUP(o_orderpriority, o_orderstatus)" +
          " ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST",
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n," +
          " COUNT(DISTINCT o_custkey) AS nc FROM orders" +
          s" WHERE o_totalprice > $t" +
          " GROUP BY ROLLUP(o_orderpriority, o_orderstatus)")
    case "includes" | "excludes" =>
      val items = flagItems(r)
      val q = between(r, 44, 47)
      val (kw, cond) =
        if (name == "includes") ("INCLUDES", flagSql(items))
        else ("EXCLUDES", s"NOT ${flagSql(items)}")
      Req(name,
        "SELECT l_orderkey, l_linenumber, flags FROM lineitem" +
          s" WHERE flags $kw ${flagSoql(items)} AND l_quantity >= $q" +
          " ORDER BY l_orderkey, l_linenumber",
        "SELECT l_orderkey, l_linenumber," +
          " l_returnflag || ';' || l_linestatus AS flags FROM lineitem" +
          s" WHERE $cond AND l_quantity >= $q")
    case "page" =>
      val fields = "c_acctbal" +: subset(r,
        Seq("c_name", "c_mktsegment", "c_nationkey"))
      val a = between(r, 0, 50) * 100
      val lim = between(r, 10, 40)
      val off = between(r, 0, 60)
      val sel = ("c_custkey" +: fields).mkString(", ")
      val tail = s" FROM customer WHERE c_acctbal >= $a" +
        s" ORDER BY c_acctbal DESC, c_custkey ASC LIMIT $lim OFFSET $off"
      Req(name, s"SELECT $sel$tail", s"SELECT $sel$tail")
  }
}

/** `extract`: a closed loop with one client sending seeded SOQL text
  * requests; every K-th request is instead the full sf-etl flow on a
  * seeded table and field list (describe JSON → DDL → createQueryJob →
  * awaitJob → readExtract with the frozen schema). One cycle is two
  * rounds per bulk table: 24 SOQL requests and 8 bulk flows. Each result
  * is collected to the driver; its digest is checked against DuckDB
  * after the run.
  */
final class Extract(c: Ctx) extends Workload {
  import c.{rec, spark, trace}
  private val K = 4
  private val bulkTables = Seq("customer", "orders", "part", "supplier")
  private val jobs = new Bulk.Jobs(spark)(ExecutionContext.global)
  private lazy val nOrders = Tables.load(spark, c.data, "orders").count()

  private def soql(op: String, req: Req, timed: Boolean): Unit =
    rec.attempt(op) {
      val t0 = System.nanoTime()
      val (df, rows, t1) = trace.op(op, "soql.request") {
        val q = trace.span("soql.parse")(Soql.parse(req.soql))
        val df = trace.span("soql.translate")(
          Soql.toDataFrame(q, spark, c.data, today = req.today))
        trace.span("plan")(df.queryExecution.executedPlan)
        val t1 = System.nanoTime()
        (df, trace.span("exec")(df.collect()), t1)
      }
      val t2 = System.nanoTime()
      if (timed) {
        rec.add("op_ms", (t2 - t0) / 1e6)
        rec.add("mat_ms", (t2 - t1) / 1e6)
      }
      val d = Digest.of(df.columns.toSeq, rows)
      rec.checks += Map("kind" -> "soql", "op" -> op,
        "template" -> req.template, "soql" -> req.soql, "sql" -> req.oracle,
        "columns" -> d.columns, "rows" -> d.rows, "digest" -> d.sum)
    }

  private def wire(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case DoubleType => "double"
    case TimestampType => "datetime"
    case _ => "string"
  }

  /** Describe JSON for `fields` of `table`, as the REST describe call
    * would return it; the first field is the table's unique key. */
  private def describeJson(table: String, fields: Seq[StructField]): String =
    fields.zipWithIndex.map { case (f, i) =>
      val len = if (f.dataType == StringType) """, "length": 80""" else ""
      s"""{"name": "${f.name}", "type": "${wire(f.dataType)}"$len,""" +
        s""" "nillable": ${i > 0}, "unique": ${i == 0}}"""
    }.mkString(s"""{"name": "$table", "fields": [""", ", ", "]}")

  private def bulk(op: String, table: String, r: Random, timed: Boolean): Unit =
    rec.attempt(op) {
      // the key plus a seeded 60% of the other fields, in declaration
      // order: the field count, and so the row width, is fixed per table
      val all = Tables.schemas(table).fields.toSeq
      val keep = r.shuffle(all.tail).take(math.ceil(0.6 * all.tail.size).toInt)
      val fields = all.head +: all.tail.filter(keep.contains)
      val names = fields.map(_.name)
      val path = s"${c.work}/csv/${op.replace(':', '_')}"
      val (ddl, rows, t0, t1) = trace.op(op, "bulk.flow") {
        val (schema, ddl) = trace.span("schema.ddl") {
          val d = DescribeResponse.parse(describeJson(table, fields))
          val st = Mapping.describeToStructType(d)
          (st, Ddl.generate[Ddl.Pg.type](table, st))
        }
        val src = Tables.load(spark, c.data, table)
        val t0 = System.nanoTime()
        val job = trace.span("bulk.create")(
          jobs.createQueryJob(src, names, path))
        trace.bindGroup(job.id, op)
        val done = trace.span("bulk.run")(jobs.awaitJob(job.id))
        require(done.state == Bulk.JobComplete,
          s"bulk job ${done.state}: ${done.error.getOrElse("")}")
        val rows = trace.span("bulk.readback")(
          Bulk.readExtract(spark, path, schema).collect())
        (ddl, rows, t0, System.nanoTime())
      }
      if (timed) {
        rec.add("bulk_ms", (t1 - t0) / 1e6)
        rec.add("bulk_rows", rows.length.toDouble)
      }
      if (trace.enabled) {
        val bytes = Option(new java.io.File(path).listFiles())
          .getOrElse(Array.empty).filter(_.getName.endsWith(".csv"))
          .map(_.length).sum
        rec.count("csv_bytes", bytes.toDouble)
        rec.count("csv_rows", rows.length.toDouble)
      }
      val d = Digest.of(names, rows)
      rec.checks += Map("kind" -> "bulk", "op" -> op, "table" -> table,
        "fields" -> names, "ddl" -> ddl, "columns" -> d.columns,
        "rows" -> d.rows, "digest" -> d.sum)
      Main.deleteTree(new java.io.File(path))
    }

  def warmup(): Unit = {
    val r = new Random(c.seed ^ 0x5eedL)
    nOrders
    Templates.names.zipWithIndex.foreach { case (t, i) =>
      soql(s"w:$i", Templates.make(t, r, nOrders), timed = false)
    }
    bulk("w:bulk", bulkTables.head, r, timed = false)
  }

  def timed(): Unit = {
    val r = new Random(c.seed)
    val cycle = 2 * K * bulkTables.size
    var nSoql = 0
    var roundStart = System.nanoTime()
    for (i <- 0 until c.reps * cycle) {
      if (i % K == K - 1) {
        bulk(s"x:$i", bulkTables((i / K) % bulkTables.size), r, timed = true)
        val now = System.nanoTime()
        rec.add("pass_s", (now - roundStart) / 1e9)
        roundStart = now
      } else {
        soql(s"x:$i", Templates.make(
          Templates.names(nSoql % Templates.names.size), r, nOrders),
          timed = true)
        nSoql += 1
      }
    }
  }

  def verify(): Unit = ()

  def layers(wallMs: Double): Map[String, Double] = {
    val timedOp = (o: String) => o.startsWith("x:")
    def med(name: String) = Stats.median(trace.spans.toSeq
      .filter(s => s.name == name && timedOp(s.op)).map(_.ms))
    val roots = trace.spans.toSeq.filter(s => s.parent < 0 && timedOp(s.op))
    trace.execMetrics(timedOp, roots, wallMs, c.cores) ++ Map(
      "soql.parse_ms" -> med("soql.parse"),
      "soql.translate_ms" -> med("soql.translate"),
      "plan.ms" -> med("plan"),
      "schema.ddl_ms" -> med("schema.ddl"),
      "bulk.create_ms" -> med("bulk.create"),
      "bulk.run_ms" -> med("bulk.run"),
      "bulk.readback_ms" -> med("bulk.readback"),
      "bulk.csv_bytes_per_row" -> rec.counters.getOrElse("csv_bytes", 0.0) /
        math.max(1.0, rec.counters.getOrElse("csv_rows", 0.0)))
  }
}
