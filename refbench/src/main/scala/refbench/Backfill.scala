package refbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine._

/** Generated inputs written to disk, plus the model of their replay. */
final case class History(gen: Gen, model: Model.State, dir: String, blocks: Int)

object History {
  /** The raw sidechain block envelope as the RPC returns it. */
  val rawSchema: StructType = StructType(Seq(
    StructField("blockNumber", LongType), StructField("timestamp", StringType),
    StructField("transactions", ArrayType(StructType(Seq(
      StructField("contract", StringType), StructField("action", StringType),
      StructField("sender", StringType), StructField("transactionId", StringType),
      StructField("payload", StringType), StructField("logs", StringType)))))))

  /** The flattened L1 op envelope as written, before its `seq` is encoded. */
  val l1Schema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("op_idx", IntegerType)) ++
    Schemas.hiveOps.fields.filterNot(f => f.name == "seq" || f.name == "ts"))

  /** Generate a history and write it as the engine's inputs: raw sidechain
    * blocks and flattened L1 ops as JSON lines. The initial token config and
    * the holders side-input are small dimensions built in memory.
    */
  def write(spark: SparkSession, seed: Long, blocks: Int, days: Int, dir: String): History = {
    val t0 = System.nanoTime()
    val gen = new Gen(seed, blocks, days)
    val model = Model.fold(gen.facts.toSeq, gen.tokens0, gen.holders)
    val t1 = System.nanoTime()
    def q(s: String) = if (s == null) "null" else Json.str(s)
    def iso(ts: Timestamp) = java.time.Instant.ofEpochMilli(ts.getTime).toString.stripSuffix("Z")
    writeLines(s"$dir/sc_blocks.jsonl", gen.rawBlocks.iterator.map { b =>
      Json.obj("blockNumber" -> b.blockNumber.toString, "timestamp" -> q(b.timestamp),
        "transactions" -> Json.arr(b.transactions.map(t => Json.obj(
          "contract" -> q(t.contract), "action" -> q(t.action), "sender" -> q(t.sender),
          "transactionId" -> q(t.transactionId), "payload" -> q(t.payload),
          "logs" -> q(t.logs))): _*))
    })
    writeLines(s"$dir/l1_ops.jsonl", gen.l1.iterator.map { o =>
      Json.obj("ts" -> q(iso(o.ts)), "op_idx" -> o.op_idx.toString, "op_type" -> q(o.op_type),
        "author" -> q(o.author), "permlink" -> q(o.permlink),
        "parent_author" -> q(o.parent_author), "parent_permlink" -> q(o.parent_permlink),
        "title" -> q(o.title), "body" -> q(o.body), "json_metadata" -> q(o.json_metadata),
        "cj_id" -> q(o.cj_id), "cj_json" -> q(o.cj_json),
        "posting_auths" -> Json.arr(o.posting_auths.map(q): _*),
        "auths" -> Json.arr(o.auths.map(q): _*))
    })
    System.err.println(f"[refbench] inputs: ${gen.rawBlocks.length} blocks, ${gen.l1.length} L1 ops, " +
      f"${gen.facts.length} facts; generate+model ${(t1 - t0) / 1e9}%.2f s, write ${(System.nanoTime() - t1) / 1e9}%.2f s")
    History(gen, model, dir, gen.rawBlocks.length)
  }

  private def writeLines(path: String, lines: Iterator[String]): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    val w = java.nio.file.Files.newBufferedWriter(p)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  final case class Inputs(blocks: DataFrame, hiveOps: DataFrame, tokenCfg: DataFrame)

  /** The engine's inputs as a reader sees them: raw blocks parsed from the
    * RPC JSON, L1 ops with `seq` from the Schemas encoder, the initial
    * token config.
    */
  def read(spark: SparkSession, h: History): Inputs = {
    import spark.implicits._
    Inputs(
      spark.read.schema(rawSchema).json(s"${h.dir}/sc_blocks.jsonl"),
      spark.read.schema(l1Schema).json(s"${h.dir}/l1_ops.jsonl")
        .withColumn("seq", Schemas.l1Seq(col("ts"), lit(0), col("op_idx")))
        .select(Schemas.hiveOps.fieldNames.map(col).toIndexedSeq: _*),
      h.gen.tokens0.toDF())
  }

  /** The backfill path: parse raw blocks, replay, save the state tables. */
  def backfill(ctx: Ctx, in: Inputs, stateDir: String): Unit = {
    val t = ctx.tracer
    val (events, transfers) = t.span("parse") {
      (BlockParsers.resolveMuteSymbols(BlockParsers.sidechainEvents(in.blocks), in.tokenCfg),
        BlockParsers.sidechainTransfers(in.blocks))
    }
    val st = t.span("replay.call")(Replay.replay(ctx.spark, in.hiveOps, events, transfers, in.tokenCfg))
    t.span("replay.save")(Replay.save(st, stateDir))
  }
}

/** `backfill`: the reference's initial sync. Set-up writes the generated
  * inputs; each timed round reads them, parses, replays and saves the state
  * tables. Operations are blocks.
  */
object Backfill {
  val Days = 45

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val blocks = if (o.smoke) 300 else 2400
    val hist = History.write(ctx.spark, o.seed, blocks, Days, ctx.dir("inputs"))
    val spark = ctx.spark
    val t = ctx.tracer
    val before = snapshot(t)
    val setupS = ctx.sinceStartS
    val roundMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var round = 0
    while (round < 2 || (System.nanoTime() - start) / 1e9 < o.seconds) {
      val r0 = System.nanoTime()
      t.span("backfill.round", round) {
        History.backfill(ctx, History.read(spark, hist), ctx.dir(s"state$round"))
      }
      roundMs += (System.nanoTime() - r0) / 1e6
      round += 1
    }
    t.drain()
    val after = snapshot(t)
    val lastState = ctx.dir(s"state${round - 1}")
    val stateBytes = ctx.parquetBytes(lastState)
    Check.state(ctx, hist.model, Replay.load(spark, lastState))

    val attempted = hist.blocks.toLong * round
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", Stats.median(roundMs.map(ms => hist.blocks / (ms / 1000)).toSeq), "1/s"),
      ("latency_p50_ms", Stats.median(roundMs.toSeq), "ms"),
      ("latency_p90_ms", Stats.quantile(roundMs.toSeq, 0.9), "ms"),
      ("state_bytes", stateBytes.toDouble, "bytes"))
    val layers =
      if (!o.trace) Seq.empty
      else Layers.sparkTotals(before, after, round) ++ Layers.replaySpans(t) ++
        Layers.functionTimings(ctx, hist)
    Outcome(attempted, if (ctx.problems.isEmpty) 0L else attempted, ctx.problems.isEmpty, e2e, layers)
  }

  def snapshot(t: Tracer): Array[Long] =
    Array(t.total.jobs, t.total.tasks, t.total.shuffleBytes, t.total.cpuNs, t.total.gcMs)
}

/** Per-layer metrics of the traced runs. */
object Layers {
  val feedEndpoints: Seq[String] = Seq("created", "created_page2", "trending", "hot",
    "promoted", "payout", "attach_votes", "feed", "blog", "comments", "replies", "thread",
    "history", "account_posts", "following", "followers", "follow_count",
    "trending_tags", "config", "info", "staked")

  /** Every per-layer metric name with its unit, in BENCHMARK.json order. */
  val all: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_bytes" -> "bytes",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "parse.sidechain_events_s" -> "s", "parse.transfers_s" -> "s",
    "contract.posts_state_s" -> "s", "contract.votes_state_s" -> "s",
    "contract.account_history_s" -> "s", "contract.token_config_s" -> "s",
    "promotion.parse_s" -> "s",
    "hiveops.post_metadata_call_s" -> "s", "hiveops.post_metadata_call_jobs" -> "count",
    "hiveops.post_metadata_s" -> "s", "hiveops.post_metadata_jobs" -> "count",
    "hiveops.l1_post_fields_s" -> "s", "hiveops.follows_s" -> "s",
    "hiveops.reblogs_s" -> "s", "hiveops.children_s" -> "s",
    "replay.call_s" -> "s", "replay.call_jobs" -> "count", "replay.save_s" -> "s",
    "replay.save_jobs" -> "count", "replay.save_shuffle_bytes" -> "bytes") ++
    feedEndpoints.flatMap(e => Seq(s"feeds.$e.p50_ms" -> "ms", s"feeds.$e.jobs" -> "count")) ++
    Seq("feeds.plan_ms" -> "ms", "feeds.collect_ms" -> "ms",
      "stream.trigger_ms" -> "ms", "stream.query_planning_ms" -> "ms",
      "stream.add_batch_ms" -> "ms", "stream.state_rows" -> "count",
      "sink.merge_ms" -> "ms", "sink.files_written" -> "count",
      "gate.hold_ms" -> "ms", "live.generator_lag_ms" -> "ms")

  /** A traced run reports every per-layer metric; a layer its workload does
    * not exercise reads 0.
    */
  def complete(ms: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val have = ms.map(m => m._1 -> m).toMap
    all.map { case (n, u) => have.getOrElse(n, (n, 0.0, u)) }
  }

  /** Spark totals of the timed phase, per round of the workload's fixed
    * operation set (one backfill, one pass of the request mix, one live run).
    */
  def sparkTotals(before: Array[Long], after: Array[Long], rounds: Int): Seq[(String, Double, String)] = {
    val d = after.zip(before).map { case (a, b) => (a - b).toDouble / math.max(1, rounds) }
    Seq(("spark.jobs", d(0), "count"), ("spark.tasks", d(1), "count"),
      ("spark.shuffle_bytes", d(2), "bytes"), ("spark.task_cpu_s", d(3) / 1e9, "s"),
      ("spark.gc_s", d(4) / 1e3, "s"))
  }

  private def med(xs: Seq[Double]): Double = Stats.median(xs)

  def replaySpans(t: Tracer): Seq[(String, Double, String)] = {
    val call = t.named("replay.call")
    val save = t.named("replay.save")
    Seq(("replay.call_s", med(call.map(_.ms / 1000)), "s"),
      ("replay.call_jobs", med(call.map(_.counts.jobs.toDouble)), "count"),
      ("replay.save_s", med(save.map(_.ms / 1000)), "s"),
      ("replay.save_jobs", med(save.map(_.counts.jobs.toDouble)), "count"),
      ("replay.save_shuffle_bytes", med(save.map(_.counts.shuffleBytes.toDouble)), "bytes"))
  }

  /** Each public replay function timed on materialized inputs: the call's
    * eager part and the forcing of its output (a no-op write) are separate
    * child spans, so a span holds one layer's work.
    */
  def functionTimings(ctx: Ctx, hist: History): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val in = History.read(spark, hist)
    def materialize(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(ctx.dir(s"mat/$name"))
      spark.read.parquet(ctx.dir(s"mat/$name"))
    }
    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    /** Span of the whole call + force, and of the call alone. */
    def timed(name: String)(call: => DataFrame): (Span, Span) = {
      t.span(name) {
        val df = t.span(s"$name.call")(call)
        t.span(s"$name.force")(force(df))
      }
      t.drain()
      (t.named(name).last, t.named(s"$name.call").last)
    }
    def secs(name: String)(call: => DataFrame): Double = timed(name)(call)._1.ms / 1000
    val evSec = secs("parse.sidechain_events")(
      BlockParsers.resolveMuteSymbols(BlockParsers.sidechainEvents(in.blocks), in.tokenCfg))
    val trSec = secs("parse.transfers")(BlockParsers.sidechainTransfers(in.blocks))
    val ev = materialize(BlockParsers.resolveMuteSymbols(
      BlockParsers.sidechainEvents(in.blocks), in.tokenCfg), "events")
    val transfers = materialize(BlockParsers.sidechainTransfers(in.blocks), "transfers")
    val hiveOps = materialize(in.hiveOps, "hive_ops")
    val cfgSec = secs("contract.token_config")(ContractReplay.tokenConfigState(ev, in.tokenCfg))
    val tokenCfg = materialize(ContractReplay.tokenConfigState(ev, in.tokenCfg), "token_cfg")
    val ppaTimeline = tokenCfg.select(col("token"), lit(Long.MinValue).as("seq"),
      col("promoted_post_account"))
      .unionByName(HiveOpsReplay.tribeSettings(hiveOps, tokenCfg))
    val promoSec = secs("promotion.parse")(Promotion.parse(transfers, ppaTimeline))
    val promo = materialize(Promotion.parse(transfers, ppaTimeline), "promo")
    val deletes = materialize(HiveOpsReplay.deletes(hiveOps), "deletes")
    val postsSec = secs("contract.posts_state")(ContractReplay.postsState(ev, tokenCfg, deletes, promo))
    val postsCore = materialize(ContractReplay.postsState(ev, tokenCfg, deletes, promo), "posts_core")
    val votesSec = secs("contract.votes_state")(ContractReplay.votesState(ev))
    val histSec = secs("contract.account_history")(ContractReplay.accountHistoryState(ev))
    val childSec = secs("hiveops.children")(HiveOpsReplay.childrenCounts(hiveOps, postsCore))
    val children = materialize(HiveOpsReplay.childrenCounts(hiveOps, postsCore), "children")
    val l1Sec = secs("hiveops.l1_post_fields")(HiveOpsReplay.l1PostFields(hiveOps))
    val folSec = secs("hiveops.follows")(HiveOpsReplay.followsState(hiveOps))
    val mainPosts = materialize(postsCore.join(HiveOpsReplay.l1PostFields(hiveOps)
      .select("authorperm", "main_post"), Seq("authorperm"))
      .filter(col("main_post")), "main_posts")
    val rebSec = secs("hiveops.reblogs")(HiveOpsReplay.reblogsState(hiveOps, mainPosts))
    val (pm, pmCall) = timed("hiveops.post_metadata")(
      HiveOpsReplay.postMetadataState(spark, hiveOps, children))
    Seq(("parse.sidechain_events_s", evSec, "s"), ("parse.transfers_s", trSec, "s"),
      ("contract.posts_state_s", postsSec, "s"), ("contract.votes_state_s", votesSec, "s"),
      ("contract.account_history_s", histSec, "s"), ("contract.token_config_s", cfgSec, "s"),
      ("promotion.parse_s", promoSec, "s"),
      ("hiveops.post_metadata_call_s", pmCall.ms / 1000, "s"),
      ("hiveops.post_metadata_call_jobs", pmCall.counts.jobs.toDouble, "count"),
      ("hiveops.post_metadata_s", pm.ms / 1000, "s"),
      ("hiveops.post_metadata_jobs", pm.counts.jobs.toDouble, "count"),
      ("hiveops.l1_post_fields_s", l1Sec, "s"), ("hiveops.follows_s", folSec, "s"),
      ("hiveops.reblogs_s", rebSec, "s"), ("hiveops.children_s", childSec, "s"))
  }
}

/** Comparison of the engine's saved state tables against the model. */
object Check {
  private def sec(ts: Any): Any = ts match {
    case t: Timestamp => t.getTime / 1000
    case null => null
    case x => x
  }
  private def dec(x: Any): Any = x match {
    case b: java.math.BigDecimal => BigDecimal(b).bigDecimal.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case null => null
    case v => v
  }
  private def seqOf(x: Any): Any = x match {
    case s: scala.collection.Seq[_] => s.toList
    case null => null
    case v => v
  }
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Float, y: Float) => math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y)) + 1e-6
    case _ => a == b
  }

  /** Compare keyed rows; a key present on one side only is a mismatch. */
  def keyed(ctx: Ctx, table: String, expected0: Map[_, Seq[Any]], rows: Seq[(Any, Seq[Any])]): Unit = {
    val expected: Map[Any, Seq[Any]] = expected0.toMap[Any, Seq[Any]]
    val actual = rows.toMap
    if (actual.size != rows.size) ctx.fail(s"$table: duplicate keys in engine output")
    val missing = expected.keySet -- actual.keySet
    val extra = actual.keySet -- expected.keySet
    if (missing.nonEmpty) ctx.fail(s"$table: ${missing.size} rows missing, e.g. ${missing.take(3)}")
    if (extra.nonEmpty) ctx.fail(s"$table: ${extra.size} unexpected rows, e.g. ${extra.take(3)}")
    val bad = expected.iterator.flatMap { case (k, e) =>
      actual.get(k).filterNot(a => a.length == e.length && a.zip(e).forall { case (x, y) => same(x, y) })
        .map(a => s"$k: engine $a, model $e")
    }.take(3).toList
    if (bad.nonEmpty) ctx.fail(s"$table: values differ: ${bad.mkString("; ")}")
  }

  private def collect(ctx: Ctx, df: DataFrame): Seq[Row] = {
    val rows = df.collect().toSeq
    // a perturbed run drops one engine row before checking, to show the
    // check catches it
    if (ctx.opts.perturb && rows.nonEmpty) rows.tail else rows
  }

  def state(ctx: Ctx, m: Model.State, st: EngineState): Unit = {
    def g(r: Row, c: String): Any = r.get(r.fieldIndex(c))
    keyed(ctx, "posts", m.posts.map(p => (p.ap, p.token) -> Seq[Any](p.author, p.created,
        p.cashout, dec(p.voteRshares), p.scoreTrend, p.scoreHot, dec(p.total), dec(p.curator),
        dec(p.promoted), p.scorePromoted, p.muted, p.title, p.desc, p.tags.toList, p.app,
        p.mainPost, p.children, p.parentAuthor, p.parentPermlink, 0L, "0", false)).toMap,
      collect(ctx, st.posts).map(r => (g(r, "authorperm"), g(r, "token")) -> Seq[Any](
        g(r, "author"), sec(g(r, "created")), sec(g(r, "cashout_time")),
        dec(g(r, "vote_rshares")), g(r, "score_trend"), g(r, "score_hot"),
        dec(g(r, "total_payout_value")), dec(g(r, "curator_payout_value")),
        dec(g(r, "promoted")), g(r, "score_promoted"), g(r, "muted"), g(r, "title"),
        g(r, "desc"), seqOf(g(r, "tags")), g(r, "app"), g(r, "main_post"), g(r, "children"),
        g(r, "parent_author"), g(r, "parent_permlink"), sec(g(r, "last_payout")),
        dec(g(r, "beneficiaries_payout_value")), g(r, "decline_payout"))))
    keyed(ctx, "post_metadata", m.meta.map(p => p.ap -> Seq[Any](p.body, p.json, p.tags.toList,
        p.children, p.parentAp, p.url, p.depth.map(_.toShort).orNull)).toMap,
      collect(ctx, st.postMetadata).map(r => g(r, "authorperm") -> Seq[Any](g(r, "body"),
        g(r, "json_metadata"), seqOf(g(r, "tags")), g(r, "children"),
        g(r, "parent_authorperm"), g(r, "url"), g(r, "depth"))))
    keyed(ctx, "votes", m.votes.map(v => (v.ap, v.token, v.voter) ->
        Seq[Any](v.ts, dec(v.rshares), v.percent.toShort)).toMap,
      collect(ctx, st.votes).map(r => (g(r, "authorperm"), g(r, "token"), g(r, "voter")) ->
        Seq[Any](sec(g(r, "timestamp")), dec(g(r, "rshares")), g(r, "percent"))))
    // account_history has no key: compare as a multiset
    def counted[A](xs: Seq[A]): Map[A, Seq[Any]] = xs.groupBy(identity).map { case (k, v) => k -> Seq[Any](v.size) }
    keyed(ctx, "account_history",
      counted(m.history.map(h => Seq[Any](h.account, h.token, h.ts, dec(h.quantity), h.trx, h.kind, h.ap))),
      counted(collect(ctx, st.accountHistory).map(r => Seq[Any](g(r, "account"), g(r, "token"),
        sec(g(r, "timestamp")), dec(g(r, "quantity")), g(r, "trx"), g(r, "type"),
        g(r, "authorperm")))).toSeq)
    keyed(ctx, "accounts", m.accounts.map(a => (a.name, a.symbol) ->
        Seq[Any](a.lastPost.getOrElse(null), a.lastRoot.getOrElse(null), a.muted)).toMap,
      collect(ctx, st.accounts).map(r => (g(r, "name"), g(r, "symbol")) ->
        Seq[Any](sec(g(r, "last_post")), sec(g(r, "last_root_post")), g(r, "muted"))))
    keyed(ctx, "follows", m.follows.map { case (k, s) => k -> Seq[Any](s.toShort) },
      collect(ctx, st.follows).map(r => (g(r, "follower"), g(r, "following")) -> Seq[Any](g(r, "state"))))
    keyed(ctx, "reblogs", m.reblogs.map { case (k, ts) => k -> Seq[Any](ts) },
      collect(ctx, st.reblogs).map(r => (g(r, "account"), g(r, "authorperm")) ->
        Seq[Any](sec(g(r, "timestamp")))))
    keyed(ctx, "token_config", m.tokens.map(c => c.token -> Seq[Any](c.cwd, c.curationPct,
        c.rpId, c.ppa, c.issuer, c.tags.toList)).toMap,
      collect(ctx, st.tokenConfig).map(r => g(r, "token") -> Seq[Any](g(r, "cashout_window_days"),
        g(r, "curation_reward_percentage"), g(r, "reward_pool_id"),
        g(r, "promoted_post_account"), g(r, "issuer"), seqOf(g(r, "tags")))))
  }
}
