package refbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{StreamOps, UpsertSink}
import graft.streaming.StreamOps.{AlignmentGate, GatedOp, VoteEvent}

/** Upsert-log rows the two live sinks fold. `seq` orders versions of a key;
  * the L1 value carries its op's seq so a point read can tell versions apart.
  */
case class VoteRow(authorperm: String, token: String, seq: Long, op: String,
                   total: Double, last_ts: Timestamp)
case class L1SinkRow(k: String, seq: Long, op: String, v: String)

/** The live chain: `backlog + head` sidechain blocks 3 s apart, each with
  * a few votes (new and updated) and an L1 follow, some with a reblog or an
  * un-reblog. The model is the expected sink state after every block.
  */
final class LiveGen(seed: Long, backlog: Int, head: Int) {
  private val rnd = new scala.util.Random(seed ^ 0x5eedL)
  val startSec: Long = 1714521600L               // 2024-05-01T00:00:00Z
  private val users = (0 until 120).map(i => f"u$i%03d")
  private val aps = (0 until 400).map(i => (s"@${users(i % users.length)}/live-$i", if (i % 3 == 0) "LEO" else "PAL"))

  final case class Block(n: Int, sec: Long, votes: Seq[VoteEvent], ops: Seq[GatedOp],
                         voteKeys: Seq[(String, String)], l1: Seq[(String, Long, Boolean)])
  val blocks: IndexedSeq[Block] = {
    val reblogAt = mutable.HashMap.empty[(String, String), Int]
    (0 until backlog + head).map { n =>
      val sec = startSec + 3L * n
      val ts = new Timestamp(sec * 1000L)
      val votes = (0 until 2 + rnd.nextInt(3)).map { i =>
        val (ap, tok) = aps(math.min(aps.length - 1, (aps.length * math.pow(rnd.nextDouble(), 2)).toInt))
        val voter = users(rnd.nextInt(users.length))
        val r = (if (rnd.nextDouble() < 0.1) -1 else 1) * (1 + rnd.nextInt(900000)).toDouble
        VoteEvent(ap, tok, voter, (sec << 24) | (i.toLong << 10), ts, r, reset = false)
      }
      val ops = mutable.ArrayBuffer.empty[GatedOp]
      val l1 = mutable.ArrayBuffer.empty[(String, Long, Boolean)]
      def op(k: String, payload: String, delete: Boolean): Unit = {
        val seq = (sec << 24) | (1L << 23) | (ops.length.toLong << 10)
        ops += GatedOp("hive", seq, sec * 1000L, s"$k\t$payload\t${if (delete) "delete" else "upsert"}")
        l1 += ((k, seq, delete))
      }
      val (a, b) = (users(rnd.nextInt(users.length)), users(rnd.nextInt(users.length)))
      op(s"f|$a|$b", if (rnd.nextDouble() < 0.2) "2" else "1", delete = false)
      if (rnd.nextDouble() < 0.4) {
        val acct = users(rnd.nextInt(users.length))
        val ap = aps(rnd.nextInt(aps.length))._1
        // an un-reblog only of a reblog old enough to be settled, so each
        // block's effect on the sink is unambiguous to a point read
        val del = reblogAt.get((acct, ap)).exists(n - _ > 100)
        if (del) reblogAt -= ((acct, ap)) else if (!reblogAt.contains((acct, ap))) reblogAt((acct, ap)) = n
        if (del || reblogAt.get((acct, ap)).contains(n)) op(s"r|$acct|$ap", "1", del)
      }
      Block(n, sec, votes, ops.toSeq, votes.map(v => (v.authorperm, v.token)).distinct, l1.toSeq)
    }
  }

  /** Vote total of each post after each block that touched it: key -> (block sec -> total). */
  val totals: Map[(String, String), Map[Long, Double]] = {
    val voters = mutable.HashMap.empty[(String, String), mutable.HashMap[String, Double]]
    val out = mutable.HashMap.empty[(String, String), mutable.HashMap[Long, Double]]
    blocks.foreach { b =>
      b.votes.foreach(v => voters.getOrElseUpdate((v.authorperm, v.token), mutable.HashMap.empty)(v.voter) = v.rshares)
      b.voteKeys.foreach(k => out.getOrElseUpdate(k, mutable.HashMap.empty)(b.sec) = voters(k).values.sum)
    }
    out.map { case (k, m) => k -> m.toMap }.toMap
  }
  /** L1 value by (key, seq): the payload the sink stores for that op. */
  val l1Value: Map[(String, Long), String] =
    blocks.flatMap(b => b.ops.map { o =>
      val Array(k, p, _) = o.payload.split("\t")
      (k, o.seq) -> s"$p@${o.seq}"
    }).toMap
}

/** `live`: the chain head followed by the streaming folds. Sidechain votes
  * go through `StreamOps.voteFoldStream` into an `UpsertSink` of post vote
  * totals; L1 follows and reblogs go through `StreamOps.alignedStream`,
  * gated by an `AlignmentGate` the vote query advances after each commit,
  * into a second `UpsertSink`. Phase 1 catches up a backlog in 1,000-block
  * chunks; phase 2 sends head blocks from a generator thread on a fixed
  * schedule and times each block from its due time until a point read of
  * both sinks returns its keys. Operations are blocks.
  */
object Live {
  val Chunk = 1000
  // the head blocks arrive as a burst shorter than one trigger, so every
  // run drains them through the same number of triggers: freshness then
  // tracks per-trigger cost instead of jumping by a whole trigger when the
  // schedule's phase against the triggers shifts
  val IntervalMs = 10

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val spark = ctx.spark
    val t = ctx.tracer
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val backlog = if (o.smoke) 200 else Chunk
    val head = if (o.smoke) 15 else 110
    val chunk = if (o.smoke) 100 else Chunk
    val gen = new LiveGen(o.seed, backlog, head)
    val progress = new ProgressLog
    if (o.trace) spark.streams.addListener(progress)

    val gate = new AlignmentGate()
    val voteSink = new UpsertSink(spark, ctx.dir("sink_votes"), Seq("authorperm", "token"), "seq", "op")
    val l1Sink = new UpsertSink(spark, ctx.dir("sink_l1"), Seq("k"), "seq", "op")
    val voteIn = MemoryStream[VoteEvent]
    val l1In = MemoryStream[GatedOp]

    // per-block bookkeeping, written by the stream threads
    val due = new Array[Long](gen.blocks.length)       // ns; head blocks only
    val added = new Array[Long](gen.blocks.length)     // ns, time of addData
    val voteDone = new Array[Long](gen.blocks.length)
    val l1Done = new Array[Long](gen.blocks.length)
    val l1BatchStart = new Array[Long](gen.blocks.length)
    @volatile var nextVote = 0                         // first unconfirmed block
    @volatile var nextL1 = 0
    @volatile var addedUpTo = -1                       // last block added to both inputs
    val mergeMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val filesSeen = ConcurrentHashMap.newKeySet[String]()
    var headStartNs = Long.MaxValue
    val failed = new java.util.concurrent.atomic.AtomicLong(0)

    def timedMerge(sink: UpsertSink, dir: String, df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val t0 = System.nanoTime()
      t.span("sink.merge")(sink.merge(df, id))
      if (t0 >= headStartNs) mergeMs.add((System.nanoTime() - t0) / 1e6)
      if (o.trace) filesSeen.addAll(parquetFiles(dir).asJava)
    }

    def onVotes(b: Dataset[VoteRow], id: Long): Unit = {
      timedMerge(voteSink, ctx.dir("sink_votes"), b.toDF(), id)
      val upTo = addedUpTo
      if (nextVote <= upTo) {
        val pending = gen.blocks.slice(nextVote, upTo + 1)
        val keys = pending.flatMap(_.voteKeys).distinct
        val state = voteSink.state()
        val rows = (if (keys.length > 500) state else state.filter(col("authorperm").isin(keys.map(_._1): _*)))
          .select("authorperm", "token", "total", "last_ts").collect()
          .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getTimestamp(3).getTime / 1000)).toMap
        val now = System.nanoTime()
        var n = nextVote
        var go = true
        while (go && n <= upTo) {
          val blk = gen.blocks(n)
          if (blk.voteKeys.forall(k => rows.get(k).exists(_._2 >= blk.sec))) {
            blk.voteKeys.foreach { k =>
              val (total, sec) = rows(k)
              if (!gen.totals(k).get(sec).contains(total)) {
                failed.incrementAndGet()
                ctx.fail(s"live: vote point read $k = $total at $sec, model ${gen.totals(k).get(sec)}")
              }
            }
            voteDone(n) = now
            n += 1
          } else go = false
        }
        nextVote = n
        if (n > 0) gate.advance(gen.blocks(n - 1).sec * 1000L)
      }
    }

    def onL1(b: Dataset[L1SinkRow], id: Long): Unit = {
      val start = System.nanoTime()
      timedMerge(l1Sink, ctx.dir("sink_l1"), b.toDF(), id)
      val upTo = math.min(addedUpTo, nextVote - 1)
      if (nextL1 <= upTo) {
        val pending = gen.blocks.slice(nextL1, upTo + 1)
        val keys = pending.flatMap(_.l1.map(_._1)).distinct
        val state = l1Sink.state()
        val rows = (if (keys.length > 500) state else state.filter(col("k").isin(keys: _*)))
          .select("k", "v").collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val now = System.nanoTime()
        var n = nextL1
        var go = true
        def seqOf(v: String) = v.substring(v.lastIndexOf('@') + 1).toLong
        while (go && n <= upTo) {
          val blk = gen.blocks(n)
          // an absent key is this block's delete or a later pending block's;
          // every block's follow key (never deleted) pins the prefix
          val applied = blk.l1.forall { case (k, seq, del) =>
            rows.get(k) match {
              case Some(v) => if (del) seqOf(v) > seq else seqOf(v) >= seq
              case None => del || pending.exists(p => p.n > n && p.l1.exists(x => x._1 == k && x._3))
            }
          }
          if (applied) {
            blk.l1.foreach { case (k, _, _) =>
              rows.get(k).foreach { v =>
                if (!gen.l1Value.get((k, seqOf(v))).contains(v)) {
                  failed.incrementAndGet()
                  ctx.fail(s"live: L1 point read $k = $v has no matching op")
                }
              }
            }
            l1Done(n) = now
            l1BatchStart(n) = start
            n += 1
          } else go = false
        }
        nextL1 = n
      }
    }

    val ckpt = ctx.dir("checkpoints")
    val voteQ = StreamOps.voteFoldStream(voteIn.toDS())
      .map(s => VoteRow(s.authorperm, s.token, s.lastTs.getTime, "upsert", s.totalRshares, s.lastTs))
      .writeStream.outputMode("update").option("checkpointLocation", s"$ckpt/votes")
      .foreachBatch((b: Dataset[VoteRow], id: Long) => onVotes(b, id)).start()
    val l1Q = StreamOps.alignedStream(l1In.toDS(), gate, timeoutMs = 0)
      .map { op =>
        val Array(k, p, kind) = op.payload.split("\t")
        L1SinkRow(k, op.seq, kind, s"$p@${op.seq}")
      }
      .writeStream.option("checkpointLocation", s"$ckpt/l1")
      .foreachBatch((b: Dataset[L1SinkRow], id: Long) => onL1(b, id)).start()

    t.drain()
    val before = Backfill.snapshot(t)
    // set-up ends here, with both streaming queries started
    val setupS = ctx.sinceStartS
    // --- phase 1: catch up the backlog in chunks ------------------------------
    val c0 = System.nanoTime()
    gen.blocks.take(backlog).grouped(chunk).foreach { blks =>
      voteIn.addData(blks.flatMap(_.votes))
      addedUpTo = blks.last.n
      voteQ.processAllAvailable()
      l1In.addData(blks.flatMap(_.ops))
      l1Q.processAllAvailable()
    }
    val catchupS = (System.nanoTime() - c0) / 1e9
    if (nextVote != backlog || nextL1 != backlog)
      ctx.fail(s"live: catch-up confirmed votes to $nextVote and L1 to $nextL1 of $backlog blocks")

    // --- phase 2: head blocks on a fixed schedule -----------------------------
    val lag = mutable.ArrayBuffer.empty[Double]
    headStartNs = System.nanoTime() + 200L * 1000000L
    val headStartWallMs = System.currentTimeMillis() + 200L
    val sender = new Thread(() => {
      (backlog until backlog + head).foreach { n =>
        val d = headStartNs + (n - backlog).toLong * IntervalMs * 1000000L
        due(n) = d
        while (System.nanoTime() < d) Thread.sleep(math.max(0L, (d - System.nanoTime()) / 1000000L))
        added(n) = System.nanoTime()
        lag += (added(n) - d) / 1e6
        voteIn.addData(gen.blocks(n).votes)
        l1In.addData(gen.blocks(n).ops)
        addedUpTo = n
      }
    }, "refbench-live-generator")
    sender.start()
    sender.join()
    val last = backlog + head - 1
    waitFor(60)(nextVote > last)
    // a final L1 arrival, beyond the gate, lets the last head block's ops out
    val flushSeq = ((gen.blocks(last).sec + 3) << 24) | (1L << 23)
    l1In.addData(GatedOp("hive", flushSeq, (gen.blocks(last).sec + 3) * 1000L, "f|flush|flush\t1\tupsert"))
    waitFor(60)(nextL1 > last)
    voteQ.stop(); l1Q.stop()
    t.drain()
    val after = Backfill.snapshot(t)
    if (nextVote <= last || nextL1 <= last)
      ctx.fail(s"live: head blocks unconfirmed (votes to $nextVote, L1 to $nextL1, last $last)")

    // --- final state against the model ---------------------------------------
    val finalVotes = gen.totals.map { case (k, m) => k -> m.maxBy(_._1)._2 }
    val gotVotes = voteSink.state().select("authorperm", "token", "total").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    if (gotVotes != finalVotes) ctx.fail(s"live: final vote totals differ " +
      s"(${(gotVotes.toSet diff finalVotes.toSet).take(3)} vs ${(finalVotes.toSet diff gotVotes.toSet).take(3)})")
    val finalL1 = mutable.HashMap.empty[String, String]
    gen.blocks.foreach(_.l1.foreach { case (k, seq, del) =>
      if (del) finalL1 -= k else finalL1(k) = gen.l1Value((k, seq)) })
    val gotL1 = l1Sink.state().select("k", "v").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val l1Rows = if (o.perturb) gotL1.drop(1) else gotL1
    if (l1Rows != finalL1.toMap) ctx.fail(s"live: final L1 state differs " +
      s"(${(l1Rows.toSet diff finalL1.toSet).take(3)} vs ${(finalL1.toSet diff l1Rows.toSet).take(3)})")

    val headBlocks = (backlog to last)
    val fresh = headBlocks.map(n => (math.max(voteDone(n), l1Done(n)) - due(n)) / 1e6)
    val stateBytes = ctx.parquetBytes(ctx.dir("sink_votes")) + ctx.parquetBytes(ctx.dir("sink_l1"))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", backlog / catchupS, "1/s"),
      ("latency_p50_ms", Stats.median(fresh), "ms"),
      ("latency_p90_ms", Stats.quantile(fresh, 0.9), "ms"),
      ("state_bytes", stateBytes.toDouble, "bytes"))
    val layers =
      if (!o.trace) Seq.empty
      else {
        val head = progress.progress.asScala.toSeq
          .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= headStartWallMs && p.numInputRows > 0)
        def dur(k: String) = Stats.median(head.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
        val lastByQuery = progress.progress.asScala.toSeq.groupBy(_.id).values.map(_.last)
        Layers.sparkTotals(before, after, 1) ++ Seq(
          ("stream.trigger_ms", dur("triggerExecution"), "ms"),
          ("stream.query_planning_ms", dur("queryPlanning"), "ms"),
          ("stream.add_batch_ms", dur("addBatch"), "ms"),
          ("stream.state_rows", lastByQuery.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).sum, "count"),
          ("sink.merge_ms", Stats.median(mergeMs.asScala.map(_.doubleValue).toSeq), "ms"),
          ("sink.files_written", filesSeen.size.toDouble, "count"),
          ("gate.hold_ms", Stats.median(headBlocks.map(n => (l1BatchStart(n) - added(n)) / 1e6)), "ms"),
          ("live.generator_lag_ms", Stats.median(lag.toSeq), "ms"))
      }
    Outcome(backlog + head, failed.get(), ctx.problems.isEmpty, e2e, layers)
  }

  private def waitFor(seconds: Int)(cond: => Boolean): Unit = {
    val end = System.nanoTime() + seconds * 1000000000L
    while (!cond && System.nanoTime() < end) Thread.sleep(5)
  }

  private def parquetFiles(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toList
      finally s.close()
    }
  }
}
