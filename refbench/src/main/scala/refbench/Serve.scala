package refbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.engine._

/** `serve`: API traffic on a settled state. Set-up replays and saves a
  * generated history with the engine and loads it back; the timed phase is
  * a closed loop with one client sending a seeded, fixed mix over every
  * `Feeds` program. Responses are checked against the model after the timed
  * phase. Operations are requests.
  */
object Serve {
  val Days = 45
  val Limit = 20

  /** One request: its endpoint, the engine call, and how a response row and
    * the model's expected rows render for comparison.
    */
  final case class Req(endpoint: String, call: () => DataFrame, expected: () => Seq[String],
                       render: Row => String, pageTwo: Boolean = false)

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val spark = ctx.spark
    val t = ctx.tracer
    val blocks = if (o.smoke) 300 else 500
    // set-up runs the backfill path exactly as the backfill workload does
    val hist = History.write(spark, o.seed, blocks, Days, ctx.dir("inputs"))
    History.backfill(ctx, History.read(spark, hist), ctx.dir("state"))
    val st = Replay.load(spark, ctx.dir("state"))
    val holders = spark.createDataFrame(hist.gen.holders)
    val stateBytes = ctx.parquetBytes(ctx.dir("state"))
    val mq = new ModelQueries(hist.model, hist.gen.endSec + 3600)
    val now = new Timestamp(mq.now * 1000L)
    val rnd = new scala.util.Random(o.seed * 31 + 7)
    // one untimed round of the mix warms the JIT and Spark's code caches, so
    // the timed loop's tail is request cost rather than first-call cost
    val warm = mutable.HashMap.empty[String, Seq[Row]]
    mix(mq, st, holders, now, new scala.util.Random(o.seed * 31 + 5), e => warm.getOrElse(e, Seq.empty))
      .foreach(req => warm(req.endpoint) = req.call().collect().toSeq)

    t.drain()
    val before = Backfill.snapshot(t)
    val setupS = ctx.sinceStartS
    val latencies = mutable.ArrayBuffer.empty[(String, Double, Double, Double)]  // endpoint, total, plan, collect
    val responses = mutable.ArrayBuffer.empty[(Req, Seq[Row])]
    val minRequests = if (o.smoke) 21 else 105
    val start = System.nanoTime()
    var rounds = 0
    var reqId = 0L
    while (responses.length < minRequests || (System.nanoTime() - start) / 1e9 < o.seconds) {
      val prev = mutable.HashMap.empty[String, Seq[Row]]
      mix(mq, st, holders, now, rnd, e => prev.getOrElse(e, Seq.empty)).foreach { req =>
        val t0 = System.nanoTime()
        val rows = t.span(s"feeds.${req.endpoint}", reqId) {
          val df = t.span("feeds.plan", reqId)(req.call())
          val t1 = System.nanoTime()
          val rows = t.span("feeds.collect", reqId)(df.collect().toSeq)
          val t2 = System.nanoTime()
          latencies += ((req.endpoint, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6))
          rows
        }
        prev(req.endpoint) = rows
        responses += ((req, rows))
        reqId += 1
      }
      rounds += 1
    }
    val elapsedS = (System.nanoTime() - start) / 1e9
    t.drain()
    val after = Backfill.snapshot(t)

    // --- checks, outside the timed phase -------------------------------------
    var failed = 0L
    val emptyAnswers = mutable.ArrayBuffer.empty[String]
    val pages = mutable.HashMap.empty[Int, Seq[String]]
    responses.zipWithIndex.foreach { case ((req, rows0), i) =>
      val rows = if (o.perturb && i == 0) rows0.drop(1) else rows0
      val got = rows.map(req.render)
      val want = req.expected()
      // page 2 of a keyset pair: page 1 followed by page 2 must equal the
      // model's first 2 x limit rows
      val ok = if (req.pageTwo) pages.getOrElse(i - 1, Seq.empty) ++ got == want else got == want
      if (got.isEmpty && want.isEmpty) emptyAnswers += req.endpoint
      if (req.endpoint == "created") pages(i) = got
      if (!ok) {
        failed += 1
        ctx.fail(s"serve ${req.endpoint}: engine ${got.take(4)}... (${got.length}) " +
          s"model ${want.take(4)}... (${want.length})")
      }
    }
    System.err.println(s"[refbench] serve: ${responses.length} requests, empty answers from ${emptyAnswers.mkString(" ")}")
    // the saved state tables the responses were served from, row by row
    Check.state(ctx, hist.model, st)
    val lat = latencies.map(_._2).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", responses.length / elapsedS, "1/s"),
      ("latency_p50_ms", Stats.median(lat), "ms"),
      ("latency_p90_ms", Stats.quantile(lat, 0.9), "ms"),
      ("state_bytes", stateBytes.toDouble, "bytes"))
    val layers =
      if (!o.trace) Seq.empty
      else {
        val spans = t.all
        val perEndpoint = Layers.feedEndpoints.flatMap { e =>
          val mine = latencies.filter(_._1 == e).map(_._2).toSeq
          val jobs = spans.filter(_.name == s"feeds.$e").map(_.counts.jobs.toDouble)
          Seq((s"feeds.$e.p50_ms", Stats.median(mine), "ms"),
            (s"feeds.$e.jobs", Stats.median(jobs), "count"))
        }
        // the replay layers run in serve's set-up: their spans come from it,
        // and each public replay function is then timed on its own
        Layers.sparkTotals(before, after, rounds) ++ perEndpoint ++ Seq(
          ("feeds.plan_ms", Stats.median(latencies.map(_._3).toSeq), "ms"),
          ("feeds.collect_ms", Stats.median(latencies.map(_._4).toSeq), "ms")) ++
          Layers.replaySpans(t) ++ Layers.functionTimings(ctx, hist)
      }
    Outcome(responses.length.toLong, failed, failed == 0, e2e, layers)
  }

  // --- rendering ---------------------------------------------------------------
  private def g(r: Row, c: String): Any = r.get(r.fieldIndex(c))
  private def d(x: Any): String = x match {
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case v => String.valueOf(v)
  }
  private def sec(x: Any): String = x match {
    case ts: Timestamp => (ts.getTime / 1000).toString
    case v => String.valueOf(v)
  }
  private def iso(s: Long): String = java.time.Instant.ofEpochSecond(s).toString.stripSuffix("Z")

  private def engineVotes(r: Row): String =
    g(r, "active_votes").asInstanceOf[scala.collection.Seq[Row]]
      .map(v => s"${v.getAs[String]("voter")}:${d(v.getAs[java.math.BigDecimal]("rshares"))}")
      .mkString(",")
  private def voteText(v: Model.MVote): String = s"${v.voter}:${d(v.rshares)}"
  private val renderRanked: Row => String = r =>
    Seq(g(r, "authorperm"), g(r, "author"), g(r, "permlink"), g(r, "tags_csv"),
      g(r, "created_iso"), engineVotes(r)).mkString("|")
  private def modelRanked(mq: ModelQueries)(p: Model.MPost): String = {
    val Array(author, permlink) = p.ap.drop(1).split("/", 2)
    Seq(p.ap, author, permlink, p.tags.mkString(",").take(256), iso(p.created),
      mq.votesOf(p.ap, p.token).map(voteText).mkString(",")).mkString("|")
  }

  /** One round of the request mix: every `Feeds` program, parameters drawn
    * from the seed. `prev` holds the previous response of an endpoint, which
    * a client uses for the keyset anchor of page 2 and for attaching votes.
    */
  private def mix(mq: ModelQueries, st: EngineState, holders: DataFrame, now: Timestamp,
                  rnd: scala.util.Random, prev: String => Seq[Row]): Seq[Req] = {
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    val tokens = Seq("PAL", "LEO")
    def ranked(endpoint: String, df: => DataFrame, want: => Seq[Model.MPost]): Req =
      Req(endpoint, () => Feeds.formatFeed(Feeds.attachVotes(df, st.votes)),
        () => want.map(modelRanked(mq)), renderRanked)
    val tok = pick(tokens)
    val tag = if (rnd.nextBoolean()) Some(pick(mq.tagsIn(tok))) else None
    val trendTok = pick(tokens)
    val hotTok = pick(tokens)
    val feedAcct = pick(mq.followers)
    val blogAcct = pick(mq.authors)
    val commentAcct = pick(mq.replyAuthors)
    val replyAcct = pick(mq.parentAuthors)
    val root = pick(mq.threadRoots)
    val histAcct = pick(mq.historyAccounts)
    val offset = math.min(rnd.nextInt(3) * 10, mq.historyCount(histAcct, "PAL") / 2)
    val postAp = pick(mq.postAps)
    val user = pick(mq.followers)
    val cfgTok = pick(Seq("PAL", "LEO", "NEW"))
    var attachKeys: Seq[(String, String)] = Seq.empty
    Seq(
      ranked("created", Feeds.discussionsByCreated(st, tok, now, Limit, tag),
        mq.created(tok, Limit, tag)),
      ranked("created_page2", {
          val anchor = prev("created").lastOption.map(last =>
            (g(last, "created").asInstanceOf[Timestamp], g(last, "authorperm").toString))
          Feeds.discussionsByCreated(st, tok, now, Limit, tag, anchor = anchor)
        }, mq.created(tok, 2 * Limit, tag)).copy(pageTwo = true),
      ranked("trending", Feeds.discussionsByScore(st, trendTok, "score_trend", now, Limit),
        mq.byScore(trendTok, _.scoreTrend.toDouble, pendingOnly = false, None)),
      ranked("hot", Feeds.discussionsByScore(st, hotTok, "score_hot", now, Limit, hiveSelect = 0),
        mq.byScore(hotTok, _.scoreHot.toDouble, pendingOnly = false, None)),
      ranked("promoted", Feeds.discussionsByScore(st, "PAL", "promoted", now, Limit),
        mq.byScore("PAL", _.promoted.toDouble, pendingOnly = true, None, promoted = true)),
      ranked("payout", Feeds.discussionsByScore(st, tok, "vote_rshares", now, Limit,
          pendingOnly = true),
        mq.byScore(tok, _.voteRshares.toDouble, pendingOnly = true, None)),
      Req("attach_votes", () => {
          attachKeys = prev("trending").map(r => (g(r, "authorperm").toString, g(r, "token").toString))
          Feeds.attachVotes(st.posts.sparkSession.createDataFrame(attachKeys)
            .toDF("authorperm", "token"), st.votes)
        },
        () => attachKeys.map { case (ap, t) => s"$ap|$t|" + mq.votesOf(ap, t).map(voteText).mkString(",") },
        r => s"${g(r, "authorperm")}|${g(r, "token")}|${engineVotes(r)}"),
      Req("feed", () => Feeds.feed(st, "PAL", feedAcct, now, Limit),
        () => mq.feed("PAL", feedAcct), r => s"${g(r, "authorperm")}|${sec(g(r, "t"))}|${g(r, "reblogged_by")}"),
      Req("blog", () => Feeds.blog(st, "PAL", blogAcct, now, Limit),
        () => mq.blog("PAL", blogAcct), r => s"${g(r, "authorperm")}|${sec(g(r, "t"))}"),
      Req("comments", () => Feeds.comments(st, "PAL", commentAcct, Limit),
        () => mq.comments("PAL", commentAcct), r => s"${g(r, "authorperm")}"),
      Req("replies", () => Feeds.replies(st, "PAL", replyAcct, Limit),
        () => mq.replies("PAL", replyAcct), r => s"${g(r, "authorperm")}"),
      Req("thread", () => Feeds.thread(st.posts.sparkSession, st, root._2, root._1),
        () => mq.thread(root._2, root._1), r => s"${g(r, "authorperm")}|${g(r, "depth")}"),
      Req("history", () => Feeds.accountHistory(st, histAcct, Some("PAL"), Limit, offset),
        () => mq.history(histAcct, "PAL", Limit, offset),
        r => Seq(g(r, "account"), g(r, "token"), sec(g(r, "timestamp")), d(g(r, "quantity")),
          g(r, "trx"), g(r, "type")).mkString("|")),
      Req("account_posts", () => Feeds.accountPosts(st, postAp),
        () => mq.accountPosts(postAp), r => s"${g(r, "authorperm")}|${g(r, "token")}|${d(g(r, "vote_rshares"))}"),
      Req("following", () => Feeds.following(st, user), () => mq.following(user),
        r => r.getString(0)),
      Req("followers", () => Feeds.followers(st, user), () => mq.followersOf(user),
        r => r.getString(0)),
      Req("follow_count", () => Feeds.followCount(st, user), () => mq.followCount(user),
        r => s"${r.getLong(0)}|${r.getLong(1)}"),
      Req("trending_tags", () => Feeds.trendingTags(st, tok, now, Limit),
        () => mq.trendingTags(tok, Limit), r => s"${g(r, "tag")}|${d(g(r, "total_payout"))}"),
      Req("config", () => Feeds.configState(st, cfgTok), () => mq.config(cfgTok),
        r => Seq(g(r, "token"), g(r, "cashout_window_days"), g(r, "curation_reward_percentage"),
          g(r, "reward_pool_id"), g(r, "promoted_post_account"), g(r, "issuer")).mkString("|")),
      Req("info", () => Feeds.info(st), () => mq.info,
        r => Seq(g(r, "token"), g(r, "reward_pool_id"), g(r, "cashout_window_days"),
          g(r, "curation_reward_percentage"), g(r, "promoted_post_account"),
          g(r, "issuer")).mkString("|")),
      Req("staked", () => Feeds.stakedAccounts(holders, trendTok), () => mq.staked(trendTok),
        r => s"${g(r, "name")}|${g(r, "staked_tokens")}"))
  }
}

/** The `Feeds` programs answered from the model's state with plain Scala. */
final class ModelQueries(val m: Model.State, val now: Long) {
  import Model._
  private val day = 86400L
  private val acctMuted: Set[(String, String)] =
    m.accounts.filter(_.muted).map(a => (a.name, a.symbol)).toSet
  private def visible(p: MPost) = !p.muted && !acctMuted.contains((p.author, p.token))
  private val votesBy: Map[(String, String), Seq[MVote]] =
    m.votes.groupBy(v => (v.ap, v.token)).map { case (k, v) => k -> v.sortBy(_.voter) }
  def votesOf(ap: String, token: String): Seq[MVote] = votesBy.getOrElse((ap, token), Seq.empty)
  private val postsBy: Map[String, Seq[MPost]] = m.posts.groupBy(_.token)
  private def tokenPosts(t: String) = postsBy.getOrElse(t, Seq.empty)
  private def inWindow(p: MPost) = p.created > now - 30 * day

  private val tagsByToken: Map[String, Seq[String]] = postsBy.map { case (t, ps) =>
    t -> ps.filter(p => p.mainPost && inWindow(p)).flatMap(_.tags).distinct.sorted }
  def tagsIn(token: String): Seq[String] = tagsByToken.getOrElse(token, Seq("none"))

  def created(token: String, limit: Int, tag: Option[String]): Seq[MPost] =
    tokenPosts(token).filter(p => p.mainPost && inWindow(p) && tag.forall(p.tags.contains) && visible(p))
      .sortBy(p => (-p.created, p.ap)).take(limit)

  def byScore(token: String, score: MPost => Double, pendingOnly: Boolean,
              tag: Option[String], promoted: Boolean = false): Seq[MPost] =
    tokenPosts(token).filter(p => p.mainPost && inWindow(p) && tag.forall(p.tags.contains) &&
        (!pendingOnly || p.cashout > now) && (!promoted || p.promoted > 0) && visible(p))
      .sortWith { (a, b) =>
        val (sa, sb) = (score(a), score(b))
        sa > sb || (sa == sb && a.ap < b.ap)
      }.take(Serve.Limit)

  private val follows1: Seq[(String, String)] = m.follows.toSeq.collect { case (k, 1) => k }.sorted
  val followers: Seq[String] = follows1.map(_._1).distinct.sorted
  val authors: Seq[String] = m.posts.filter(p => p.mainPost && p.token == "PAL").map(_.author).distinct.sorted
  val replyAuthors: Seq[String] = m.posts.filter(p => !p.mainPost && p.token == "PAL").map(_.author).distinct.sorted
  val parentAuthors: Seq[String] =
    m.posts.filter(p => !p.mainPost && p.token == "PAL").map(_.parentAuthor).distinct.sorted
  // roots whose reply tree is exactly two levels deep: every thread request
  // then runs the same number of BFS levels, whatever the seed
  private lazy val height: String => Int = {
    val memo = mutable.HashMap.empty[String, Int]
    def h(ap: String): Int = memo.getOrElseUpdate(ap,
      kids.getOrElse(ap, Seq.empty).map(h).maxOption.map(_ + 1).getOrElse(0))
    h
  }
  lazy val threadRoots: Seq[(String, String)] = {
    val withReplies = m.posts.filter(p => p.mainPost && p.children > 0)
    val twoLevel = withReplies.filter(p => height(p.ap) == 2)
    (if (twoLevel.nonEmpty) twoLevel else withReplies).map(p => (p.ap, p.token)).sorted
  }
  val historyAccounts: Seq[String] = m.history.filter(_.token == "PAL").map(_.account).distinct.sorted
  val postAps: Seq[String] = m.posts.map(_.ap).distinct.sorted

  def feed(token: String, account: String): Seq[String] = {
    val followed = follows1.filter(_._1 == account).map(_._2).toSet
    val eligible = tokenPosts(token).filter(p => p.mainPost && inWindow(p) && p.author != account)
    val eligibleAps = eligible.map(_.ap).toSet
    val authored = eligible.filter(p => followed.contains(p.author)).map(p => (p.ap, p.created, None))
    val reblogged = m.reblogs.toSeq.collect {
      case ((acct, ap), ts) if followed.contains(acct) && eligibleAps.contains(ap) => (ap, ts, Some(acct))
    }
    val merged = (authored ++ reblogged).groupBy(_._1).map { case (ap, xs) =>
      ap -> (xs.map(_._2).min, xs.flatMap(_._3).distinct.sorted.mkString(","))
    }
    tokenPosts(token).filter(p => p.mainPost && merged.contains(p.ap) && visible(p))
      .map(p => (p.ap, merged(p.ap))).sortBy { case (ap, (t, _)) => (-t, ap) }.take(Serve.Limit)
      .map { case (ap, (t, rb)) => s"$ap|$t|$rb" }
  }

  def blog(token: String, account: String): Seq[String] = {
    val authored = tokenPosts(token).filter(p => p.mainPost && p.author == account).map(p => (p.ap, p.created))
    val reblogged = m.reblogs.toSeq.collect { case ((acct, ap), ts) if acct == account => (ap, ts) }
    val merged = (authored ++ reblogged).groupBy(_._1).map { case (ap, xs) => ap -> xs.map(_._2).min }
    tokenPosts(token).filter(p => p.mainPost && merged.contains(p.ap) && visible(p))
      .map(p => (p.ap, merged(p.ap))).sortBy { case (ap, t) => (-t, ap) }.take(Serve.Limit)
      .map { case (ap, t) => s"$ap|$t" }
  }

  def comments(token: String, account: String): Seq[String] =
    tokenPosts(token).filter(p => !p.mainPost && p.author == account)
      .sortBy(p => (-p.created, p.ap)).take(Serve.Limit).map(_.ap)

  def replies(token: String, account: String): Seq[String] =
    tokenPosts(token).filter(p => p.parentAuthor == account && p.author != account)
      .sortBy(p => (-p.created, p.ap)).take(Serve.Limit).map(_.ap)

  private val kids: Map[String, Seq[String]] =
    m.meta.filter(_.parentAp != null).groupBy(_.parentAp).map { case (k, v) => k -> v.map(_.ap) }
  def thread(token: String, root: String): Seq[String] = {
    val depth = mutable.LinkedHashMap.empty[String, Int]
    var frontier = Seq(root); var dd = 0
    while (frontier.nonEmpty && dd < 8) {
      dd += 1
      frontier = frontier.flatMap(kids.getOrElse(_, Seq.empty)).filterNot(depth.contains)
      frontier.foreach(k => depth(k) = dd)
    }
    tokenPosts(token).filter(p => depth.contains(p.ap))
      .sortBy(p => (depth(p.ap), p.created, p.ap)).map(p => s"${p.ap}|${depth(p.ap)}")
  }

  private def dec(b: BigDecimal) = b.bigDecimal.stripTrailingZeros.toPlainString
  def historyCount(account: String, token: String): Int =
    m.history.count(h => h.account == account && h.token == token)
  def history(account: String, token: String, limit: Int, offset: Int): Seq[String] =
    m.history.filter(h => h.account == account && h.token == token)
      .sortBy(h => (-h.ts, h.trx)).slice(offset, offset + math.max(0, math.min(limit, 1000 - offset)))
      .map(h => Seq(h.account, h.token, h.ts, dec(h.quantity), h.trx, h.kind).mkString("|"))

  def accountPosts(ap: String): Seq[String] =
    m.posts.filter(_.ap == ap).sortBy(_.token).map(p => s"${p.ap}|${p.token}|${dec(p.voteRshares)}")
  def following(a: String): Seq[String] = follows1.filter(_._1 == a).map(_._2).sorted.take(1000)
  def followersOf(a: String): Seq[String] = follows1.filter(_._2 == a).map(_._1).sorted.take(1000)
  def followCount(a: String): Seq[String] =
    Seq(s"${follows1.count(_._1 == a)}|${follows1.count(_._2 == a)}")

  def trendingTags(token: String, limit: Int): Seq[String] =
    tokenPosts(token).filter(_.cashout > now - 14 * day)
      .flatMap(p => p.tags.map(t => (t, p.total))).groupBy(_._1)
      .map { case (t, xs) => (t, xs.map(_._2).sum) }.toSeq
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(limit)
      .map { case (t, s) => s"$t|${dec(s)}" }

  def config(token: String): Seq[String] = m.tokens.filter(_.token == token).map(c =>
    Seq(c.token, c.cwd, c.curationPct, c.rpId, c.ppa, c.issuer).mkString("|"))
  def info: Seq[String] = m.tokens.sortBy(_.token).map(c =>
    Seq(c.token, c.rpId, c.cwd, c.curationPct, c.ppa, c.issuer).mkString("|"))
  def staked(token: String): Seq[String] =
    m.holders.filter(_.token == token).sortBy(_.account).map(h => s"${h.account}|${h.stake}")
}
