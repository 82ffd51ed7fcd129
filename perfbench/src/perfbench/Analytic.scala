package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.SparkEntry

/** `analytic_suite`: a fixed list of registered queries, in seeded order,
  * each written to the `noop` sink. Passes share the session, so staged
  * artifacts built in the cold pass are reused by the steady ones. */
final class Analytic(spark: SparkSession, rec: Rec, plan: Map[String, Any], work: Path)
    extends Workload {
  private val data = plan("data_dir").toString
  private val ops = plan("ops").asInstanceOf[Seq[Map[String, Any]]]
  private lazy val queries = SparkEntry.queries

  def setup(rep: Int): Unit = {
    // resolve the query registry and open every input table
    require(ops.forall(o => queries.contains(o("op").toString)))
    graft.core.Tables.all.foreach(t => graft.core.Tables.load(spark, data, t).schema)
  }

  def pass(p: Int): Unit = ops.zipWithIndex.foreach { case (o, i) =>
    val name = o("op").toString
    rec.op(name, "read", Map("idx" -> i, "family" -> o("family"))) {
      val df = rec.span("query.plan")(queries(name)(spark, data))
      rec.span("spark.noop")(df.write.format("noop").mode("overwrite").save())
      Nil
    }
    if (p == 0) dump(name)
  }

  private val out = work.resolve("results")
  private val failed = scala.collection.mutable.Map.empty[String, String]

  /** Untimed, between ops of the cold pass: the query's output as parquet
    * for the oracle check, timestamps naive (NTZ) as graft.Verify dumps
    * them. */
  private def dump(name: String): Unit =
    try {
      val df = queries(name)(spark, data)
      df.select(df.schema.fields.toSeq.map(f =>
        if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
        else col(f.name)): _*).write.parquet(out.resolve(name).toString)
    } catch { case e: Throwable => failed(name) = String.valueOf(e).take(300) }

  /** Staged-artifact figures, and where the results are, for Python. */
  override def info: Map[String, Any] = {
    val sc = spark.sparkContext
    val storage = sc.getRDDStorageInfo
    rec.put("artifact.times", graft.core.ArtifactTiming.snapshot)
    rec.put("artifact.storage_bytes", storage.map(r => r.memSize + r.diskSize).sum.toDouble)
    rec.put("artifact.persisted_rdds", sc.getPersistentRDDs.size.toDouble)
    Map("results_dir" -> out.toString, "result_failures" -> failed.toMap,
      "oracle" -> ops.map(o => o("op").toString)
        .map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap)
  }
}
