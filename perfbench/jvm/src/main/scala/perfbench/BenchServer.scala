package perfbench

import java.io.{BufferedReader, FileDescriptor, FileOutputStream, InputStreamReader, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.{GraphRef, KHop}
import graft.sources.{ArrowIpc, FlightGrpc, FlightProto, FlightService, TpchGraph}

/** The server the benchmark drives: one `FlightGrpc.Server` over a
  * `local[cpus]` Spark session, plus a control channel for the benchmark
  * client on the process's stdin and stdout (never on the Flight wire,
  * so the measured verbs are exactly the program's own).
  *
  * Usage: BenchServer <cpus> <token>
  *
  * Prints `{"port":…}` once serving, then reads one JSON request per
  * line from stdin and answers each with one JSON line on stdout. Spark
  * logs, and anything else the program prints, go to stderr. Ops:
  *
  *  - `trace_on` / `trace_off`: attach or detach [[Tracer]]'s listeners
  *    (the untraced path runs with none attached);
  *  - `snapshot`: the tracer's cumulative counters;
  *  - `heap`: the heap in use after full collections, in MB: what the
  *    program keeps live;
  *  - `oracle`: the program's DuckDB oracle SQL for the named gates;
  *  - `load`: read the named fixture tables once;
  *  - `gate`: run one gate on a fixture directory, write its result;
  *  - `probe`: time direct calls into each layer's public functions on
  *    the Arrow IPC stream files the request names;
  *  - `stop`: close the server and the session, then exit.
  *
  * The server also exits when stdin closes, so a killed benchmark never
  * leaves it running.
  */
object BenchServer {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val token = args(1)
    val out = new PrintStream(new FileOutputStream(FileDescriptor.out), true,
      UTF_8)
    System.setOut(System.err)
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's own records of finished jobs, stages and SQL executions
      // would otherwise add to the live heap in proportion to the number
      // of requests a run makes
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = new FlightGrpc.Server(spark, token).start()
    val tracer = new Tracer(spark)
    try {
      out.println(s"""{"port":${server.port}}""")
      var line = in.readLine()
      while (line != null) {
        val req = json.readTree(line)
        val op = req.path("op").asText()
        val resp: String = try {
          op match {
            case "trace_on" => tracer.attach(); "{}"
            case "trace_off" => tracer.detach(); "{}"
            case "snapshot" => toJson(tracer.snapshot())
            case "heap" =>
              // the first collection queues the dropped RDDs and
              // broadcasts for Spark's ContextCleaner, which then frees
              // their blocks; the second collects what those held
              System.gc()
              Thread.sleep(500)
              System.gc()
              toJson(Map("heap_mb" -> ManagementFactory.getMemoryMXBean
                .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)))
            case "oracle" =>
              json.writeValueAsString(strings(req, "names")
                .map(n => n -> SparkEntry.oracleSql(n)).toMap.asJava)
            case "load" => toJson(Gates.load(spark, req.path("dir").asText(),
              strings(req, "tables")))
            case "gate" => toJson(Gates.run(spark, req))
            case "probe" => toJson(Probes.run(spark, server.service, req))
            case "stop" => "{}"
            case other => throw new IllegalArgumentException(
              s"unknown op: $other")
          }
        } catch {
          case e: Exception =>
            s"""{"error":${json.writeValueAsString(e.toString)}}"""
        }
        out.println(resp)
        line = if (op == "stop") null else in.readLine()
      }
    } finally {
      server.close()
      spark.stop()
    }
  }

  def strings(req: JsonNode, field: String): Seq[String] =
    req.path(field).elements().asScala.map(_.asText()).toSeq

  private def toJson(m: Map[String, Double]): String =
    json.writeValueAsString(m.asJava)
}

/** The in-process gate workload: `SparkEntry.queries` gates on a fixture
  * directory of TPC-H-shaped parquet tables. */
object Gates {
  /** Read fixture tables once through the program's table source
    * (schema, timestamp normalization, scan); returns total rows. */
  def load(spark: SparkSession, dir: String,
           tables: Seq[String]): Map[String, Double] =
    Map("rows" -> tables.map(t =>
      TpchGraph.table(spark, dir, t).queryExecution.toRdd.count()).sum
      .toDouble)

  /** Run one gate and write its result as parquet to `out`. `seconds`
    * is the gate's wall time through the written result; `ready_s` the
    * part spent building its result frame (for the loop and stream
    * gates, their eager rounds, checkpoints and micro-batches). */
  def run(spark: SparkSession, req: JsonNode): Map[String, Double] = {
    val name = req.path("name").asText()
    val dir = req.path("dir").asText()
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    val t1 = System.nanoTime()
    df.write.mode("overwrite").parquet(req.path("out").asText())
    val t2 = System.nanoTime()
    Map("seconds" -> (t2 - t0) / 1e9, "ready_s" -> (t1 - t0) / 1e9)
  }
}

/** Direct, timed calls into the layers a request passes through, on the
  * same generated data the client sends over the wire. Each timing is the
  * median of three calls; a frame is forced with
  * `queryExecution.toRdd.count()`, which runs the whole physical plan
  * without an extra conversion to external rows. The k-hop depth is the
  * workloads' k = 2. */
object Probes {
  private val Reps = 3
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds(body: => Unit): Double =
    median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    })

  private def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** One Arrow IPC stream per file, in file-name order. */
  private def streams(dir: String, prefix: String): Seq[Array[Byte]] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith(prefix))
      .toSeq.sortBy(_.getFileName.toString).map(p => Files.readAllBytes(p))
    finally s.close()
  }

  /** A gds.write DoPut's frames: every stream's IPC messages, the first
    * frame carrying the CMD descriptor with the write message. */
  private def putFrames(cmd: String,
                        blobs: Seq[Array[Byte]]): Seq[FlightProto.FlightData] = {
    val msgs = blobs.flatMap(FlightProto.splitIpcStream)
    val desc = FlightProto.FlightDescriptor(FlightProto.DescriptorType.Cmd,
      cmd.getBytes(UTF_8), Nil)
    msgs.zipWithIndex.map { case (m, i) =>
      FlightProto.FlightData(if (i == 0) Some(desc) else None, m.metadata,
        Array.emptyByteArray, m.body)
    }
  }

  def run(spark: SparkSession, service: FlightService,
          req: JsonNode): Map[String, Double] = {
    import spark.implicits._
    val dir = req.path("dir").asText()
    val labels = BenchServer.strings(req, "labels")
    val types = BenchServer.strings(req, "types")
    val nodeBlobs = streams(dir, "nodes-")
    val relBlobs = streams(dir, "rels-")
    def schemaOf(blobs: Seq[Array[Byte]]) =
      FlightService.sparkSchemaOfStream(FlightProto.splitIpcStream(blobs.head))
    def decode(blobs: Seq[Array[Byte]]): DataFrame =
      ArrowIpc.fromIpcStreams(spark.createDataset(blobs), schemaOf(blobs))

    val decodeS = seconds {
      force(decode(nodeBlobs)); force(decode(relBlobs)); ()
    }
    val graph = "perfbench_probe"
    val nodeCmd = s"""{"db":"graft","graph":"$graph","id_field":"ID",""" +
      """"labels_field":"LABELS"}"""
    val relCmd = s"""{"db":"graft","graph":"$graph",""" +
      """"source_field":"START_ID","target_field":"END_ID",""" +
      """"type_field":"TYPE"}"""
    val nodeFrames = putFrames(nodeCmd, nodeBlobs)
    val relFrames = putFrames(relCmd, relBlobs)
    val putS = seconds {
      service.putGraphPart(nodeFrames); service.putGraphPart(relFrames); ()
    }

    val ref = GraphRef(decode(nodeBlobs).localCheckpoint(true),
      decode(relBlobs).localCheckpoint(true))
    val props = ref.nodes.columns.filterNot(c => c == "ID" || c == "LABELS")
      .toSeq
    def scan: DataFrame = ref.nodeScan(props = props, labels = labels)
    val scanS = seconds { force(scan); () }
    val scanAndEncodeS = seconds {
      ArrowIpc.toIpcStreams(scan).rdd.map(_.length.toLong).sum(); ()
    }
    val khopS = seconds {
      force(KHop.kHopEdges(
        ref.rels.where(col("TYPE").isin(types: _*)), k = 2)); ()
    }
    Map(
      "ArrowIpc.decode_s" -> decodeS,
      "FlightService.put_graph_part_s" -> putS,
      "GraphOps.node_scan_s" -> scanS,
      "ArrowIpc.encode_s" -> math.max(0.0, scanAndEncodeS - scanS),
      "KHop.khop_edges_s" -> khopS)
  }
}
