package perfbench

import java.nio.file.Path
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.backfill.Backfill
import graft.core.Warehouse
import graft.manifest.{Manifest, ModelNode, SourceNode}
import graft.materialize.{Build, Materialize}
import graft.streaming.StreamingIncremental

/** The daily-pipeline stage that opens every `warehouse_dml` pass: drain
  * event micro-batches into a raw table, build a generated model DAG,
  * backfill its daily incrementals in parallel (one `newSession()` per
  * task), then read the results through the SQL catalog. Each pass starts
  * on an empty warehouse root. Read ops carry `idx` from `idxOffset` on,
  * after the DML ops of the same plan. */
final class PipelineStage(spark: SparkSession, rec: Rec, plan: Map[String, Any],
                          data: String, cpus: Int, work: Path, idxOffset: Int) {
  private val models = plan("models").asInstanceOf[Seq[Seq[Any]]]
  private val reads = plan("reads").asInstanceOf[Seq[Map[String, Any]]]
  private val mart = "mart"
  private var manifest: Manifest = _
  private var bodies: Map[String, String] = _

  /** Set-up: parse the generated project into a manifest. */
  def setup(): Unit = {
    val nodes = models.map { case Seq(name: String, mat: String, tags: Seq[_], _) =>
      ModelNode(s"model.bench.$name", "pc", mart, name, materialized = mat,
        tags = tags.map(_.toString).toSet)
    }
    val sources = Seq("orders", "customer").map(t =>
      SourceNode(s"source.bench.tpch.$t", "pc", "tpch", t, "tpch")) :+
      SourceNode("source.bench.raw.events_hourly", "pc", "raw", "events_hourly", "raw")
    val Ref = """ref\('([^']+)'\)""".r
    val Src = """source\('[^']+', '([^']+)'\)""".r
    bodies = models.map(m => m(0).toString -> m(3).toString).toMap
    val parents = bodies.map { case (n, sql) =>
      n -> (Ref.findAllMatchIn(sql).map(_.group(1)) ++
        Src.findAllMatchIn(sql).map(_.group(1))).toSeq
    }
    manifest = Manifest(nodes, sources, parents)
    // the sources every pass reads, opened once like a warehouse's tables
    Seq("orders", "customer").foreach(t =>
      spark.read.parquet(s"$data/$t.parquet").schema)
  }

  private def loader(s: SparkSession, wh: Warehouse)(src: String, tbl: String): DataFrame =
    if (src == "raw") wh.read(src, tbl) else s.read.parquet(s"$data/$tbl.parquet")

  private def vars(r: Seq[Any]) = Map("start" -> r(0).toString, "end" -> r(1).toString)

  def run(p: Int): Unit = {
    val root = work.resolve(s"pipe_pass_$p")
    val wh = new Warehouse(spark, root.toString)
    rec.add("pipeline.passes", 1)
    drain(wh)
    buildDag(wh)
    backfill(wh)
    val cat = s"pc$p"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    reads.zipWithIndex.foreach { case (r, i) =>
      rec.op("read_" + r("kind"), "read", Map("idx" -> (idxOffset + i))) {
        val df = rec.span("sql.analyze")(spark.sql(r("sql").toString.replace("{cat}", cat)))
        rec.span("sql.exec")(df.collect()).head.toSeq
      }
    }
    Common.endOfPass(rec, wh, Seq("raw" -> "events_hourly") ++
      manifest.models.values.filter(m => m.materialized == "table" ||
        m.materialized == "incremental").map(m => mart -> m.name) :+
      (mart -> "customer_scd2"), 0L)
    Util.deleteTree(root)
  }

  /** Stage 1: micro-batches through the partition-scoped hourly upsert. */
  private def drain(wh: Warehouse): Unit = {
    val t0 = System.nanoTime()
    plan("batches").asInstanceOf[Seq[Seq[Any]]].foreach { case Seq(b, rows) =>
      val batch = spark.read.parquet(s"$data/$b")
      rec.add("streaming.rows", rows.toString.toDouble)
      rec.op("stream_batch", "write") {
        rec.span("streaming.upsert_hourly")(
          StreamingIncremental.upsertHourly(wh, "raw", "events_hourly", batch))
        Nil
      }
    }
    rec.add("streaming.drain_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Stage 2: the whole DAG for the build day, one model per op, through
    * the same calls `Build.run` makes: select, topological order, render,
    * then the model's materialization. */
  private def buildDag(wh: Warehouse): Unit = {
    val build = new Build(wh, manifest, bodies, loader(spark, wh))
    val selected = rec.timed("manifest.select_s")(manifest.select("*"))
    val order = rec.timed("build.topo_s")(build.topoOrder(selected))
    val v = vars(plan("build_day").asInstanceOf[Seq[Any]])
    val mat = new Materialize(wh)
    order.foreach { name =>
      val node = manifest.models(name)
      val ref = s"graft_ref_$name"
      if (node.materialized == "ephemeral") ()
      else rec.op(s"model_${node.materialized}", "write") {
        val sql = rec.timed("build.render_s")(rec.span("build.render")(build.render(name, v)))
        node.materialized match {
          case "view" =>
            rec.span("materialize.view")(mat.view(mart, name, sql))
            spark.sql(sql).createOrReplaceTempView(ref)
          case "incremental" =>
            rec.span("materialize.incremental")(mat.incremental(mart, name, spark.sql(sql)))
            wh.read(mart, name).createOrReplaceTempView(ref)
          case _ =>
            rec.span("materialize.table")(mat.table(mart, name, spark.sql(sql)))
            wh.read(mart, name).createOrReplaceTempView(ref)
        }
        Nil
      }
    }
    // scd2 over the customer dimension: first load, then a change snapshot
    val t0 = System.nanoTime()
    val day = LocalDate.parse(v("start"))
    Seq("customer.parquet" -> day, plan("scd2_changes").toString -> day.plusDays(1))
      .foreach { case (f, d) =>
        val snap = spark.read.parquet(s"$data/$f")
          .withColumn("snap_ts", lit(java.sql.Date.valueOf(d)))
        rec.op("model_scd2", "write") {
          rec.span("materialize.scd2")(mat.scd2(mart, "customer_scd2", snap,
            Seq("c_custkey"), "snap_ts", Seq("c_acctbal", "c_mktsegment")))
          Nil
        }
      }
    rec.add("materialize.scd2_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Stage 3: the daily models over the backfill range, 1-day chunks,
    * `nproc` tasks at a time, each on its own session. */
  private def backfill(wh: Warehouse): Unit = {
    val ranges = plan("backfill").asInstanceOf[Seq[Seq[Any]]].map(r =>
      (LocalDate.parse(r(0).toString), LocalDate.parse(r(1).toString)))
    val t0 = System.nanoTime()
    Backfill.runIndexed(ranges, cpus) { (_, r) =>
      val s = spark.newSession()
      SparkSession.setActiveSession(s)
      rec.listenSession(s)
      val twh = new Warehouse(s, wh.root)
      rec.op("backfill_chunk", "write") {
        rec.span("build.run")(new Build(twh, manifest, bodies, loader(s, twh))
          .run("tag:daily", Map("start" -> r._1.toString, "end" -> r._2.toString)))
        Nil
      }
    }
    rec.add("backfill.wall_s", (System.nanoTime() - t0) / 1e9)
    rec.put("backfill.parallelism", math.min(cpus, ranges.size).toDouble)
  }
}
