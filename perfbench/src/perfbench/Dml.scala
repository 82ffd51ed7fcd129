package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{MergeClause, Warehouse}

/** `warehouse_dml`: each pass opens with the daily-pipeline stage
  * ([[PipelineStage]]), then runs a seeded sequence of row-level writes,
  * with reads between them, on lineitem landed as ship-date cohorts.
  * Every pass starts from a copy of the landed template. */
final class Dml(spark: SparkSession, rec: Rec, plan: Map[String, Any], work: Path)
    extends Workload {
  private val data = plan("data_dir").toString
  private val ops = plan("ops").asInstanceOf[Seq[Map[String, Any]]]
  private val (ds, tb) = ("dml", "lineitem")
  private var template: Path = _
  private val pipe = new PipelineStage(spark, rec,
    plan("pipeline").asInstanceOf[Map[String, Any]], s"$data/pipe",
    plan("cpus").toString.toInt, work, ops.size)

  def setup(rep: Int): Unit = {
    pipe.setup()
    Option(template).foreach(Util.deleteTree)
    template = work.resolve(s"dml_template_$rep")
    val wh = new Warehouse(spark, template.toString)
    val li = spark.read.parquet(s"$data/lineitem.parquet")
    val cohorts = plan("cohorts").asInstanceOf[Seq[Seq[String]]].map { case Seq(lo, hi) =>
      li.filter(expr(s"l_shipdate >= $lo AND l_shipdate < $hi"))
    }
    rec.timed("core.append_all_s")(wh.appendAll(ds, tb, cohorts))
    rec.add("core.append_all_n", 1)
    wh.analyzeBloom(ds, tb, Seq("l_orderkey"))
  }

  override def info: Map[String, Any] = Map(
    "versions_at_start" -> new Warehouse(spark, template.toString).log(ds, tb).latest.get.version)

  def pass(p: Int): Unit = {
    pipe.run(p)
    rec.add("space.passes", 1)
    val root = work.resolve(s"dml_pass_$p")
    Util.copyTree(template, root)
    val wh = new Warehouse(spark, root.toString)
    val startBytes = Util.bytesUnder(root)
    val versions = scala.collection.mutable.Map(-1 -> latest(wh))
    ops.zipWithIndex.foreach { case (o, i) =>
      val kind = o("op").toString
      val cat = if (o("write") == true) "write" else "read"
      val live = if (rec.trace) wh.log(ds, tb).latest.get.entries.size else 0
      rec.op(kind, cat, Map("live" -> live, "idx" -> i)) { run(wh, kind, o, versions) }
      if (cat == "write") versions(i) = latest(wh)
      if (rec.trace) probe(wh, kind, o)
    }
    Common.endOfPass(rec, wh, Seq(ds -> tb), startBytes)
    Util.deleteTree(root)
  }

  private def latest(wh: Warehouse): Int = wh.log(ds, tb).latest.get.version

  private def src(o: Map[String, Any]): DataFrame =
    spark.read.parquet(s"$data/src/${o("file")}")

  private val pk = Seq("l_orderkey", "l_linenumber")

  private def run(wh: Warehouse, kind: String, o: Map[String, Any],
                  versions: scala.collection.Map[Int, Int]): Seq[Any] = {
    def pred = expr(o("pred").toString)
    def version(k: String) = versions(o(k).asInstanceOf[Int])
    kind match {
      case "append" =>
        rec.span("core.append")(wh.append(ds, tb, src(o))); Nil
      case "merge_into" =>
        val r = rec.span("core.merge_into")(wh.mergeInto(ds, tb, src(o), pk))
        Seq(r.matchedRows, r.sourceRows, r.pruned)
      case "merge_into_mor" =>
        val r = rec.span("core.merge_into_mor")(wh.mergeIntoMor(ds, tb, src(o), pk))
        Seq(r.matchedRows, r.sourceRows, r.pruned)
      case "merge_apply" =>
        val sets = Seq("l_quantity", "l_extendedprice").map(c => c -> col(s"s.$c"))
        val r = rec.span("core.merge_apply")(wh.mergeApply(ds, tb, src(o), pk,
          Seq(MergeClause.matched(None, sets)), Seq(MergeClause.insertStar()), Nil))
        Seq(r.updatedRows, r.insertedRows, r.pruned)
      case "delete_where" =>
        Seq(rec.span("core.delete_where")(wh.deleteWhere(ds, tb, pred)).deletedRows)
      case "delete_where_mor" =>
        Seq(rec.span("core.delete_where_mor")(wh.deleteWhereMor(ds, tb, pred)).deletedRows)
      case "update_where" =>
        val sets = o("sets").asInstanceOf[Seq[Seq[String]]].map { case Seq(c, e) => c -> expr(e) }
        Seq(rec.span("core.update_where")(wh.updateWhere(ds, tb, sets, pred)).updatedRows)
      case "replace_where" =>
        val r = rec.span("core.replace_where")(wh.replaceWhere(ds, tb, pred, src(o)))
        Seq(r.replacedRows, r.insertedRows)
      case "compact" =>
        rec.span("core.compact")(wh.compact(ds, tb)); Nil
      case "restore" =>
        rec.span("core.restore")(wh.restoreToVersion(ds, tb, version("version"))); Nil
      case "read_where_point" | "read_where_range" =>
        Common.digest(rec, rec.span("core.read_where")(wh.readWhere(ds, tb, pred)))
      case "read_version" =>
        Common.digest(rec, rec.span("core.read_version")(wh.readVersion(ds, tb, version("version"))))
      case "changes_between" =>
        val (a, b) = (version("from"), version("to"))
        if (a == b) Seq(0L, 0L, 0L, 0L, 0L, 0L)
        else Common.signedDigest(rec, rec.span("core.changes_between")(
          wh.changesBetween(ds, tb, a, b)))
    }
  }

  /** Per-layer probes (traced runs only, outside the op's timed window). */
  private def probe(wh: Warehouse, kind: String, o: Map[String, Any]): Unit = {
    rec.timed("core.log_replay_s")(wh.log(ds, tb).latest)
    rec.add("core.log_replay_n", 1)
    if (kind.startsWith("read_where")) {
      val pred = expr(o("pred").toString)
      rec.timed("core.plan_scan_s")(wh.planScan(ds, tb, pred))
      rec.add("core.plan_scan_n", 1)
      val (scanned, total) = wh.scanFootprint(ds, tb, pred)
      rec.add("core.files_scanned", scanned.toDouble)
      rec.add("core.files_total", total.toDouble)
    }
  }
}

/** Pieces the workloads share. */
object Common {
  private def digestCols(sign: Column): Seq[Column] = {
    def s(c: Column) = coalesce(sum(sign * c), lit(0L))
    Seq(coalesce(sum(sign), lit(0L)), s(col("l_orderkey")),
      s(col("l_linenumber").cast("bigint")), s(col("l_quantity").cast("bigint")),
      s(round(col("l_extendedprice") * 100).cast("bigint")),
      s(round(col("l_discount") * 100).cast("bigint")))
  }

  /** (rows, Σorderkey, Σlinenumber, Σquantity, Σcents, Σdiscount%) —
    * exact integers, so DuckDB can reproduce them bit for bit. */
  def digest(rec: Rec, df: DataFrame): Seq[Any] = {
    val c = digestCols(lit(1L))
    rec.span("spark.collect")(df.agg(c.head, c.tail: _*).head()).toSeq
  }

  /** [[digest]] of a change feed with deletes counted negative: the net
    * change between two versions, whatever fragments were rewritten. */
  def signedDigest(rec: Rec, df: DataFrame): Seq[Any] = {
    val c = digestCols(when(col("_change_type") === "insert", 1L).otherwise(-1L))
    rec.span("spark.collect")(df.agg(c.head, c.tail: _*).head()).toSeq
  }

  /** Space and log figures at the end of a pass (outside any op). */
  def endOfPass(rec: Rec, wh: Warehouse, tables: Seq[(String, String)],
                startBytes: Long): Unit = {
    val root = java.nio.file.Paths.get(wh.root)
    val total = Util.bytesUnder(root)
    var live, liveFiles, orphans, versions = 0L
    tables.foreach { case (ds, tb) =>
      val td = root.resolve(ds).resolve(tb)
      wh.log(ds, tb).latest.filter(!_.isDrop).foreach { c =>
        versions += c.version
        c.entries.map(_.path).distinct.foreach { p =>
          val f = td.resolve(p)
          live += Util.bytesUnder(f)
          liveFiles += Util.parquetFiles(f)
        }
      }
      if (rec.trace) orphans += wh.orphanFiles(ds, tb, graceMillis = 0L).size
    }
    rec.add(s"space.total_bytes", total.toDouble)
    rec.add(s"space.live_bytes", live.toDouble)
    rec.add(s"space.written_bytes", (total - startBytes).toDouble)
    rec.add("core.live_files", liveFiles.toDouble)
    rec.add("core.orphan_files", orphans.toDouble)
    rec.add("core.log_versions", versions.toDouble)
  }
}
