package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.{GraftSession, SparkEntry}
import graft.etl.CovidShape
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum, xxhash64}
import org.apache.spark.sql.types.StructType
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** One benchmark JVM. `run.py` writes a plan (JSON) naming the ops of every
  * pass in order; this program runs them as a closed loop from one client
  * thread, records raw timings (and, on traced passes, raw Spark events),
  * and writes everything to one artifact at exit. All arithmetic on the
  * records happens in `metrics.py`, where it is unit-tested.
  *
  * An op is either a registry key (builder call + `collect()`) or one of the
  * two reference-DAG ingest tasks (`etl.covid`, `etl.municipios`). Output
  * checks run after each op and are excluded from its latency; outputs are
  * hashed here and every distinct output is written out once, so that the
  * DuckDB comparison in `checks.py` covers every op.
  *
  * Usage: Harness <plan.json>
  */
object Harness {
  private val mapper = new ObjectMapper()
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-ms resolution, comparable with the
    * epoch-ms timestamps Spark puts on listener events. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Client-side spans; listener-side spans live in [[Tracer]]. */
  final class Spans {
    val rows = new mutable.ArrayBuffer[ObjectNode]()
    private var nextId = 0
    def open(): (Int, Double) = {
      nextId += 1; (nextId, nowMs())
    }
    def close(id: Int, layer: String, op: Int, parent: Int, start: Double): Double = {
      val end = nowMs()
      val n = mapper.createObjectNode()
      n.put("id", id).put("parent", parent).put("layer", layer).put("op", op)
        .put("start", start).put("end", end)
      rows += n
      end - start
    }
  }

  private def names(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new java.io.File(args(0)))
    val dataDir = plan.get("data_dir").asText
    val outDir = plan.get("out_dir").asText
    val trace = plan.get("trace").asBoolean
    val cpus = plan.get("cpus").asText
    val s0 = nowMs()
    val spark = GraftSession.buildLocal(cpus, "graft-perfbench", extraConf = Map(
      "spark.local.dir" -> plan.get("local_dir").asText,
      "spark.sql.warehouse.dir" -> plan.get("warehouse_dir").asText))
    val sessionBuildMs = nowMs() - s0
    val errors = ErrorCounter.attach()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    val verified: Map[String, Set[String]] = plan.get("verified").fields.asScala
      .map(e => e.getKey -> names(e.getValue).toSet).toMap
    val tracer = new Tracer(spark)
    val spans = new Spans
    val ops = new mutable.ArrayBuffer[ObjectNode]()
    // key -> output hash -> the rows (or the table an ingest task wrote)
    val outputs = mutable.LinkedHashMap.empty[String,
      mutable.LinkedHashMap[String, Either[(Array[Row], StructType), String]]]
    var opSeq = 0

    def runOp(name: String, pass: Int, traced: Boolean): ObjectNode = {
      opSeq += 1
      val id = opSeq
      val rec = mapper.createObjectNode()
      rec.put("id", id).put("name", name).put("pass", pass).put("traced", traced)
      sc.setLocalProperty(Tracer.OpProp, id.toString)
      errors.current = id
      val g0 = gcMs()
      val (opSpan, t0) = spans.open()
      rec.put("start", t0)
      def phase[T](layer: String)(body: => T): (T, Double) = {
        val (sid, st) = spans.open()
        sc.setLocalProperty(Tracer.SpanProp, sid.toString)
        try { val r = body; (r, spans.close(sid, layer, id, opSpan, st)) }
        catch { case e: Throwable => spans.close(sid, layer, id, opSpan, st); throw e }
      }
      var check: () => Unit = () => ()
      try {
        if (name == "etl.covid" || name == "etl.municipios") {
          val covid = name == "etl.covid"
          val lake = plan.get("lake_dir").asText + (if (covid) "/covid" else "/municipios")
          val (raw, readMs) = phase("etl.read") {
            if (covid) CovidShape.readCsv(spark, plan.get("csv").asText)
            else CovidShape.readJson(spark, plan.get("json").asText)
          }
          val (df, transformMs) = phase("etl.transform") {
            if (covid) CovidShape.covidTransform(raw) else CovidShape.municipiosTransform(raw)
          }
          val (observed, loadMs) = phase("etl.load") {
            if (covid) CovidShape.loadReplaceParquetObserved(df, lake, "city")
            else { CovidShape.loadReplaceParquet(df, lake); Map.empty[String, Any] }
          }
          rec.put("etl_read_ms", readMs).put("etl_transform_ms", transformMs)
            .put("etl_load_ms", loadMs)
          observed.foreach { case (k, v) => rec.put(k, v.toString.toLong) }
          check = () => {
            // Hash the table as written, minus the batch stamp, which is
            // checked separately: one non-null value for the whole batch.
            val t = spark.read.parquet(lake)
            val cols = t.columns.filter(_ != "created_at_datalake").sorted.map(c => col(s"`$c`"))
            def hashSum(cs: Seq[Column]) = sum(xxhash64(cs: _*).cast("decimal(38,0)"))
            val r = t.agg(count(lit(1)), hashSum(cols.toSeq), hashSum(cols.reverse.toSeq),
              countDistinct(col("created_at_datalake")),
              count(col("created_at_datalake"))).head()
            val stampOk = r.getLong(0) == 0 || (r.getLong(3) == 1 && r.getLong(4) == r.getLong(0))
            rec.put("rows", r.getLong(0)).put("stamp_ok", stampOk)
            val h = s"${r.getLong(0)}_${r.get(1)}_${r.get(2)}"
            rec.put("hash", h)
            outputs.getOrElseUpdate(name, mutable.LinkedHashMap.empty)
              .getOrElseUpdate(h, Right(lake))
          }
        } else {
          val fn = registry.getOrElse(name, throw new NoSuchElementException(s"unknown key $name"))
          val (df, buildMs) = phase("ops.build") { fn(spark, dataDir) }
          val (rows, actionMs) = phase("action") { df.collect() }
          rec.put("build_ms", buildMs).put("action_ms", actionMs).put("rows", rows.length)
          check = () => {
            val strs = rows.map(_.toString)
            val h = s"${rows.length}_${MurmurHash3.unorderedHash(strs, 1)}_${MurmurHash3.unorderedHash(strs, 2)}_${MurmurHash3.stringHash(df.schema.json)}"
            rec.put("hash", h)
            val seen = outputs.getOrElseUpdate(name, mutable.LinkedHashMap.empty)
            if (!seen.contains(h) && !verified.getOrElse(name, Set.empty)(h))
              seen(h) = Left((rows, df.schema))
          }
        }
        rec.put("ok", true)
      } catch {
        case e: Throwable =>
          rec.put("ok", false).put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      }
      rec.put("latency_ms", spans.close(opSpan, "op", id, 0, t0))
      rec.put("end", nowMs())
      rec.put("gc_ms", gcMs() - g0)
      sc.setLocalProperty(Tracer.OpProp, null)
      sc.setLocalProperty(Tracer.SpanProp, null)
      val c0 = nowMs()
      try check() catch {
        case e: Throwable =>
          rec.put("check_error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      }
      rec.put("check_ms", nowMs() - c0)
      errors.current = 0
      ops += rec
      rec
    }

    // Warm-up passes, untimed, before set-up ends.
    plan.get("warm").elements.asScala.map(names).zipWithIndex.foreach { case (order, i) =>
      order.foreach(runOp(_, -1 - i, traced = false))
    }
    System.gc()
    val warmEnd = nowMs()

    // Timed region: the plan's passes, whole. Traced runs trace passes
    // 1, 2, 5, 6, ...: untraced and traced passes in ABBA order, so that the
    // tracing overhead is measured inside one JVM and a warm-up trend across
    // passes cancels out of it.
    val passes = mapper.createArrayNode()
    plan.get("passes").elements.asScala.map(names).zipWithIndex.foreach { case (order, p) =>
      val traced = trace && (p % 4 == 1 || p % 4 == 2)
      if (traced) tracer.attach()
      val p0 = nowMs()
      val recs = order.map(runOp(_, p, traced))
      val wall = nowMs() - p0
      if (traced) tracer.detach()
      passes.addObject().put("pass", p).put("traced", traced).put("wall_ms", wall)
        .put("check_ms", recs.map(_.get("check_ms").asDouble).sum).put("ops", recs.size)
    }

    // Distinct outputs, one parquet directory each, for checks.py.
    sc.setLocalProperty(Tracer.OpProp, null)
    val written = mapper.createObjectNode()
    outputs.foreach { case (key, byHash) =>
      val k = written.putObject(key)
      byHash.zipWithIndex.foreach { case ((h, out), i) =>
        val dst = s"$outDir/$key/$i"
        out match {
          case Left((rows, schema)) =>
            spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(dst)
          case Right(src) => copyTree(Paths.get(src), Paths.get(dst))
        }
        k.put(h, dst)
      }
    }
    spark.stop()

    val art = mapper.createObjectNode()
    art.put("session_build_ms", sessionBuildMs)
      .put("warm_end", warmEnd).put("cpus", cpus.toInt)
      .put("vm_hwm_kb", vmHwmKb()).put("gc_total_ms", gcMs())
    art.set[JsonNode]("passes", passes)
    art.set[JsonNode]("outputs", written)
    val oracle = art.putObject("oracle")
    outputs.keys.foreach(k => SparkEntry.oracleSql.get(k).foreach(oracle.put(k, _)))
    val opsArr = art.putArray("ops")
    ops.foreach { r =>
      r.put("error_log_lines", errors.counts.getOrDefault(r.get("id").asInt, 0))
      opsArr.add(r)
    }
    art.put("error_log_lines_outside_ops", errors.counts.getOrDefault(0, 0))
    val msgs = art.putArray("error_log_messages")
    errors.messages.asScala.foreach(msgs.add)
    val spanArr = art.putArray("spans")
    spans.rows.foreach(spanArr.add)
    tracer.writeTo(art)
    mapper.writeValue(new java.io.File(plan.get("artifact").asText), art)
  }

  private def vmHwmKb(): Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: -1 kB")
    line.split("\\s+")(1).toLong
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator.asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }
}
