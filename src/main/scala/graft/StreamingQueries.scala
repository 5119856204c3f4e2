package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.H3Streaming

/** Driver-gated correctness queries for the Structured Streaming surface
  * (SURVEY §2.10 — the declared net-new extension, previously the only
  * substantial surface with no CORRECTNESS row). Each query runs a REAL
  * micro-batch streaming job inside the query function — a file-stream
  * source over the same parquet table the batch oracle reads, a
  * watermarked stateful aggregation, a memory sink — and returns the
  * final deterministic snapshot. The oracle is the batch semantics of
  * the same operator: streaming/batch parity is the contract the
  * H3StreamingSpec laws pin, and the driver gate makes a parity
  * regression impossible to miss between rounds.
  */
object StreamingQueries {

  /** Event-time column for `name` under its physical type in `schema`
    * (same branch as PipelineQueries.eventsUs, but producing a TIMESTAMP —
    * the streaming windows need one): driver testdata generations have
    * shifted between TIMESTAMP(NANOS)-as-long and TIMESTAMP(MICROS). One
    * place to fix when the next generation shifts again. */
  private def eventTime(schema: org.apache.spark.sql.types.StructType,
      name: String = "ts"): org.apache.spark.sql.Column =
    schema(name).dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr(s"timestamp_micros($name div 1000)")
      case _ => col(name).cast("timestamp")
    }

  /** Session the streaming job runs under: a throwaway clone (the
    * CheckpointLayout mechanism) whose shuffle-partition count — which for
    * a streaming query is the STATE STORE partition count, fixed at query
    * start and beyond AQE's reach — is derived from the measured input
    * size instead of inherited from the batch session. Measured (r16
    * micro-batch progress, sf0.1): per-micro-batch state store commits
    * dominate the gates' wall — e.g. s03's micro-batches spend 26-54 s of SUMMED
    * commitTimeMs across 32 partitions on a 0.6 MB input, each partition
    * paying file create + rename + fsync per batch for KBs of state. The
    * derivation (one ~64 MB-of-input state partition, floored at 1, capped
    * at 4× the cluster's cores) scales the fsync fan-out with the data: a
    * production stream sizes state partitions to per-trigger volume, never
    * to a session-wide constant (guide §2 — scale-adaptive partitioning).
    * `graft.stream.statePartitions` overrides: "auto" (default), "session"
    * (inherit the batch session's value — the pre-r16 behavior, kept for
    * A/B), or an explicit count for production tuning.
    *
    * The clone also disables no-data micro-batches: these gates are
    * bounded replay-to-snapshot jobs whose emission set is complete once
    * every DATA batch has run (s03's dedup emits on arrival; s05's organic
    * timeouts fire in the second flush file's data batch — the double-
    * flush protocol's own design), so the trailing no-data batch only
    * re-commits every state partition to move WHEN already-emitted-or-
    * filtered state evicts, never WHAT is emitted (measured: 2.1-2.8 s per
    * gate). Oracle equality at three SFs re-pins the emitted set. */
  private def streamSession(s: SparkSession, dir: String,
      table: String): SparkSession = {
    val parts = s.conf.get("graft.stream.statePartitions", "auto") match {
      case "session" => s.conf.get("spark.sql.shuffle.partitions")
      case "auto" =>
        val f = new java.io.File(dir, table)
        val bytes =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(_.length).sum).getOrElse(0L)
        val cores = s.sparkContext.defaultParallelism.toLong
        math.max(1L, math.min(bytes / (64L << 20) + 1L, 4L * cores)).toString
      case n => n
    }
    org.apache.spark.sql.graft.shims.cloneSessionWithConf(s,
      "spark.sql.shuffle.partitions" -> parts,
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        s.conf.get("graft.stream.noDataBatches", "false"))
  }

  /** Shared memory-sink lifecycle: drop a stale sink view (it survives a
    * previous invocation in this session — bench warm pass, median-of-3
    * reruns), run `out` to completion, return the final snapshot table.
    * All catalog traffic goes through the frame's OWN session — under a
    * [[streamSession]] clone the memory sink registers its view there,
    * not in the batch session. */
  private def runToSnapshot(s: SparkSession, out: DataFrame, name: String,
      mode: String): DataFrame = {
    val ss = out.sparkSession
    try ss.catalog.dropTempView(name)
    catch { case scala.util.control.NonFatal(_) => () }
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    ss.table(name)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Watermarked hopping-window rollup driven as a StreamingQuery — the
    // streaming twin of p76_hopping_stats with the identical output
    // contract (epoch-aligned int64-micros window starts, e2-lattice
    // exact sums, 6 h windows sliding every 2 h per event type).
    // COMPLETE output mode: the memory sink's final snapshot equals the
    // batch aggregation over the whole file deterministically, which is
    // what a hash-compared driver artifact needs (append mode's emission
    // set depends on watermark commit timing relative to the final
    // no-data micro-batch — closed-window semantics are spec territory,
    // H3StreamingSpec pins them with MemoryStream batch boundaries).
    "s01_stream_hopping" -> ((s, dir) => {
      val batch = s.read.parquet(s"$dir/events.parquet")
      val s2 = streamSession(s, dir, "events.parquet")
      // the table is a single parquet FILE; FileStreamSource force-sets
      // basePath to the (non-directory) path unless the path is a GLOB —
      // the {name} alternation makes it one while matching exactly that
      // file, and the explicit directory basePath then survives
      val stream = s2.readStream.schema(batch.schema)
        .option("basePath", dir)
        .parquet(s"$dir/{events.parquet}")
        .withColumn("__ts", eventTime(batch.schema))
      val out = H3Streaming.streamingHoppingStats(stream, "__ts",
        "event_type", "value", windowLen = "6 hours", slide = "2 hours",
        watermark = "1 hour")
      runToSnapshot(s, out, "s01_sink", "complete")
        .orderBy(col("window_start"), col("group"))
    }),

    // Watermarked windowed h3_compact_agg (F1's streaming form,
    // SURVEY §2.10) driven as a StreamingQuery. The h3_05 identity makes
    // it oracle-exact: each event contributes the FULL res-6 child set of
    // its res-5 cell, so every window's cell set is complete-by-parent
    // and the per-window compaction returns exactly the window's distinct
    // res-5 parents — computable in DuckDB with the synth-cell bit
    // arithmetic and no H3 library. Gates the stateful
    // TypedImperativeAggregate path through the state store (serialize/
    // deserialize of the compact buffer between micro-batches).
    "s02_stream_compact" -> ((s, dir) => {
      val batch = s.read.parquet(s"$dir/events.parquet")
      val s2 = streamSession(s, dir, "events.parquet")
      val stream = s2.readStream.schema(batch.schema)
        .option("basePath", dir)
        .parquet(s"$dir/{events.parquet}")
        .withColumn("__ts", eventTime(batch.schema))
        .withColumn("parent", expr(SparkEntry.Synth.cellSql("user_id", 5)))
        .withColumn("cell",
          explode(graft.functions.h3_uncompact_cell(col("parent"), lit(6))))
      val out = H3Streaming.windowedCompact(stream, "__ts", "cell",
        watermark = "1 hour", windowLen = "6 hours")
      runToSnapshot(s, out, "s02_sink", "complete")
        .select(unix_micros(col("window.start")).as("window_start"),
          explode(col("cells")).as("cell"))
        .orderBy(col("window_start"), col("cell"))
    }),

    // Streaming exact dedup (dropDuplicatesWithinWatermark) — the THIRD
    // state-machinery type after windowed agg (s01) and the
    // TypedImperativeAggregate store (s02). Every document text is
    // exploded into two copies, so the dedup state must drop exactly one
    // of each. Determinism: dropDuplicatesWithinWatermark keeps an
    // ARBITRARY winner per key, so the stream is projected to
    // content-only rows first — duplicate keys are then byte-identical
    // rows and the winner is indistinguishable; the output is the
    // distinct text set regardless of arrival order.
    "s03_stream_dedup" -> ((s, dir) => {
      val batch = s.read.parquet(s"$dir/documents.parquet")
      val s2 = streamSession(s, dir, "documents.parquet")
      val stream = s2.readStream.schema(batch.schema)
        .option("basePath", dir)
        .parquet(s"$dir/{documents.parquet}")
        .select(explode(array(col("text"), col("text"))).as("text"))
        .withColumn("__ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      val out = H3Streaming.streamingExactDedup(stream, "__ts", "text",
        watermark = "1 hour")
      runToSnapshot(s, out, "s03_sink", "append")
        .select(col("text")).orderBy(col("text"))
    }),

    // Streaming incremental dedup against a STATIC reference corpus — the
    // FOURTH distinct machinery after windowed agg (s01), the
    // TypedImperativeAggregate state store (s02), and dedup key state
    // (s03): a stream-static left-anti join gated by a broadcast Bloom
    // probe (the codegen'd BloomFilterMightContain expression, not a UDF).
    // Stateless on the stream side, so append-mode output is the exact
    // row set "stream rows whose text is not in ref" regardless of
    // micro-batch boundaries; doc_id uniqueness makes the snapshot
    // deterministic. Ref = every third document, so both the bloom's
    // definite-no fast path and the anti-join's candidate path carry rows.
    "s04_stream_incremental" -> ((s, dir) => {
      val batch = s.read.parquet(s"$dir/documents.parquet")
      val ref = batch.filter(col("doc_id") % 3 === 0)
      val s2 = streamSession(s, dir, "documents.parquet")
      val stream = s2.readStream.schema(batch.schema)
        .option("basePath", dir)
        .parquet(s"$dir/{documents.parquet}")
      val out = H3Streaming.streamingIncrementalDedup(stream, "text",
        ref, "text", expectedRefItems = 100000L)
      runToSnapshot(s, out, "s04_sink", "append")
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
    }),

    // Gap sessionization via flatMapGroupsWithState with EVENT-TIME
    // timeout — the FIFTH machinery: arbitrary per-key state (one open
    // session) closed by watermark progress. Determinism of the final
    // snapshot needs every organic session CLOSED, so the stream is
    // staged as three files with controlled modification order and
    // maxFilesPerTrigger=1: the whole organic event table (one batch, so
    // watermark 0 drops nothing), then two far-future flush events on a
    // sentinel key — the first advances the watermark past every
    // last+gap horizon, the second's batch fires the resulting timeouts
    // (the same double-flush the SessionsSpec MemoryStream law uses; a
    // no-data micro-batch may close sessions one batch earlier, which
    // only moves WHEN rows are emitted, never the emitted set). Each
    // session is emitted exactly once (gap-close or timeout-with-remove),
    // so the append snapshot minus the sentinel is the batch gap
    // sessionization of the full table — p41's semantics at the
    // operator's millisecond grain.
    "s05_stream_sessions" -> ((s, dir) => {
      val batch = s.read.parquet(s"$dir/events.parquet")
      val isNanos =
        batch.schema("ts").dataType == org.apache.spark.sql.types.LongType
      val tsT = eventTime(batch.schema)
      // empty/all-null-ts table: no sessions to close — any flush anchor
      // works, the snapshot is empty either way
      val maxTs = Option(batch.agg(max(tsT)).head().getTimestamp(0))
        .getOrElse(new java.sql.Timestamp(0L))
      val gapMs = 86400000L // 24 h, the p41 gap
      // a key no organic row plausibly carries (the oracle shares no
      // assumption about user_id's sign, so don't burn -1 on it);
      // Int.MinValue survives BOTH int32 and int64 physical user_id
      // types bit-faithfully, unlike Long.MinValue which would truncate
      // to 0 under an int32 cast and corrupt that key's sessions
      val sentinelKey = Int.MinValue.toLong
      val root = java.nio.file.Files.createTempDirectory("graft_s05_")
      try {
        val streamDir = root.resolve("in")
        java.nio.file.Files.createDirectories(streamDir)
        // batch 0 is a RAW byte copy of the source file — no single-threaded
        // decode/re-encode of the whole table just to stage it (at sf1.0
        // that rewrite costs more than the sessionization itself); the
        // nanos-vs-micros physical-type branch moves to the stream side
        val organic = streamDir.resolve("0_organic.parquet")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(dir, "events.parquet"), organic)
        // sentinel rows in the RAW schema (sessionize reads only
        // user_id/ts/value; the rest ride as typed nulls)
        def sentinel(t: java.sql.Timestamp): DataFrame =
          s.range(1).select(batch.schema.fields.map { f =>
            (f.name match {
              case "user_id" => lit(sentinelKey).cast(f.dataType)
              case "ts" =>
                if (isNanos) lit(t.getTime * 1000000L).cast(f.dataType)
                else lit(t).cast(f.dataType)
              case "value" => lit(0.0).cast(f.dataType)
              case _ => lit(null).cast(f.dataType)
            }).as(f.name)
          }.toSeq: _*)
        def stage(df: DataFrame, name: String, mtime: Long): Unit = {
          val st = root.resolve(s"stage_$name").toString
          df.coalesce(1).write.mode("overwrite").parquet(st)
          val part = new java.io.File(st).listFiles()
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no parquet part under $st"))
          val dst = streamDir.resolve(s"$name.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          dst.toFile.setLastModified(mtime); ()
        }
        val now = System.currentTimeMillis()
        val flush1 = new java.sql.Timestamp(maxTs.getTime + gapMs + 3600000L)
        val flush2 = new java.sql.Timestamp(flush1.getTime + gapMs + 3600000L)
        // FileStreamSource batches in mtime order under maxFilesPerTrigger=1
        organic.toFile.setLastModified(now - 60000L)
        stage(sentinel(flush1), "1_flush", now - 40000L)
        stage(sentinel(flush2), "2_flush", now - 20000L)
        val stream = streamSession(s, dir, "events.parquet")
          .readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(streamDir.toString)
          .withColumn("__ts", tsT)
          // null-ts rows would NPE inside the sessionize fold's timestamp
          // decode; the oracle mirrors with WHERE ts IS NOT NULL — this is
          // what makes the all-null-ts guard above actually hold
          .filter(col("__ts").isNotNull)
        val out = H3Streaming.streamingSessionize(stream, "user_id", "__ts",
          "value", gapMillis = gapMs, watermark = "1 second")
        runToSnapshot(s, out.toDF, "s05_sink", "append")
          .filter(col("key") =!= sentinelKey)
          .orderBy(col("key"), col("start_ns"))
      } finally { // the snapshot lives in the memory sink; the staging can go
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(root.toFile)
      }
    })
  )

  // Same oracle as p76_hopping_stats: the streaming job must land on the
  // batch answer exactly. A hopping event belongs to windowLen/slide = 3
  // epoch-aligned windows; the floor-mod handles pre-epoch starts.
  def oracleSql: Map[String, String] = Map(
    "s01_stream_hopping" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts, event_type AS grp,
        |  CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v FROM events),
        |x AS (SELECT (ts - ((ts % 7200000000 + 7200000000) % 7200000000)) - k.k * 7200000000 AS window_start, grp, v
        |  FROM e CROSS JOIN (SELECT unnest(range(3)) AS k) k)
        |SELECT window_start, grp AS "group", CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(v) AS BIGINT) AS value_sum_e2
        |FROM x WHERE window_start >= 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the uncompact(5->6)-then-compact identity: per 6 h window, the
    // compacted set is exactly the window's distinct res-5 synth cells
    "s02_stream_compact" ->
      s"""WITH e AS (SELECT epoch_us(ts) AS ts,
         |  ${SparkEntry.Synth.oracleCellSql("user_id", 5)} AS cell FROM events)
         |SELECT ts - ((ts % 21600000000 + 21600000000) % 21600000000) AS window_start, cell
         |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "s03_stream_dedup" ->
      """SELECT DISTINCT text FROM documents ORDER BY text""".stripMargin,

    // exact "not in ref" semantics (the bloom only prunes); NOT EXISTS
    // rather than NOT IN so a hypothetical NULL text cannot void the set
    "s04_stream_incremental" ->
      """SELECT d.doc_id, d.text FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents r
        |  WHERE r.doc_id % 3 = 0 AND r.text = d.text)
        |ORDER BY d.doc_id""".stripMargin,

    // p41's gap sessionization at the streaming operator's MILLISECOND
    // grain (event-time timeouts are ms-grained, so the op folds
    // ms-floored times; the oracle mirrors with epoch_ms and a 24 h gap
    // in ms). Bounds are int64 nanoseconds per the SessionRow contract.
    // TIE-SAFE form: rows collapse to distinct (user, ms) BEFORE the
    // windows, because `lag` and the running `sum` are two SEPARATE
    // window sorts — with duplicate timestamps (sf1.0's 10x-replicated
    // events) their arbitrary tie orders can disagree and split a
    // boundary tie group across two sessions, while the engine's single
    // ordered fold keeps equal-ts events together (gap 0 extends). Over
    // distinct ms both sorts are over unique keys, hence deterministic.
    "s05_stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms,
        |  CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v FROM events
        |  WHERE ts IS NOT NULL),
        |d AS (SELECT user_id, ms, CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(v) AS BIGINT) AS sv FROM e GROUP BY 1, 2),
        |m AS (SELECT user_id, ms, c, sv,
        |  CASE WHEN lag(ms) OVER w IS NULL
        |       OR ms - lag(ms) OVER w > 86400000 THEN 1 ELSE 0 END AS nw
        |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |sx AS (SELECT user_id, ms, c, sv,
        |  sum(nw) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sidx
        |  FROM m)
        |SELECT user_id AS key, CAST(min(ms) * 1000000 AS BIGINT) AS start_ns,
        |  CAST(max(ms) * 1000000 AS BIGINT) AS end_ns,
        |  CAST(sum(c) AS BIGINT) AS n_events, CAST(sum(sv) AS BIGINT) AS value_sum_e2
        |FROM sx GROUP BY user_id, sidx ORDER BY key, start_ns""".stripMargin
  )
}
