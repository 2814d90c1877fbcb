package graft

import org.apache.spark.sql.SparkSession

import graft.sources.FlightGrpc

/** One shared local session for the whole suite (tests fork a single JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 4]: 4 threads, maxFailures=4 — task retries ENABLED so
      // RetryDeterminismSpec can inject first-attempt failures
      // (maxFailures is context-level and one context serves the whole
      // forked suite, so it cannot be scoped to one spec). Known
      // tradeoff: a TRANSIENT task failure in any other suite now
      // passes after retry instead of surfacing — accepted because
      // production clusters run maxFailures=4, so green-under-retry is
      // the contract that matters; a deterministic failure still
      // propagates after 4 attempts.
      .master("local[4, 4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A gRPC Flight server over [[spark]] and one client dialled into it,
    * both closed after `f`. */
  def withFlight(f: (FlightGrpc.Server, FlightGrpc.Client) => Unit): Unit = {
    val srv = new FlightGrpc.Server(spark, token = "sekrit").start()
    try {
      val c = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
      try f(srv, c) finally c.close()
    } finally srv.close()
  }
}
