package refbench

import scala.collection.mutable
import Facts._

/** The expected engine state, folded from the generator's facts with plain
  * Scala collections. It never calls engine code: every rule below is
  * written from the engine's documented semantics (ContractReplay,
  * HiveOpsReplay, Promotion, Replay scaladocs), so a disagreement with the
  * engine's output is a finding, not a tuning knob.
  */
object Model {
  case class MPost(ap: String, token: String, author: String, created: Long,
      cashout: Long, voteRshares: BigDecimal, scoreTrend: Float, scoreHot: Float,
      total: BigDecimal, curator: BigDecimal, promoted: BigDecimal,
      scorePromoted: Float, muted: Boolean, title: String, desc: String,
      tags: Seq[String], app: String, mainPost: Boolean, children: Int,
      parentAuthor: String, parentPermlink: String)
  case class MMeta(ap: String, body: String, json: String, tags: Seq[String],
      children: Int, parentAp: String, url: String, depth: Option[Int])
  case class MVote(ap: String, token: String, voter: String, ts: Long,
      rshares: BigDecimal, percent: Int)
  case class MHist(account: String, token: String, ts: Long, quantity: BigDecimal,
      trx: String, kind: String, ap: String)
  case class MAccount(name: String, symbol: String, lastPost: Option[Long],
      lastRoot: Option[Long], muted: Boolean)
  case class MToken(token: String, cwd: Int, curationPct: Int, rpId: Int,
      ppa: String, issuer: String, tags: Seq[String])

  case class State(posts: Seq[MPost], meta: Seq[MMeta], votes: Seq[MVote],
      history: Seq[MHist], accounts: Seq[MAccount],
      follows: Map[(String, String), Int], reblogs: Map[(String, String), Long],
      tokens: Seq[MToken], holders: Seq[Holder])

  /** `_score` (engine/utils.py:41-46): sign·log10(max(|r|,1)) + t/timescale. */
  def score(r: Double, sec: Long, timescale: Long): Float = {
    val order = math.log10(math.max(math.abs(r), 1.0))
    val sign = if (r > 0) 1.0 else -1.0
    (sign * order + sec.toDouble / timescale.toDouble).toFloat
  }

  def fold(facts: Seq[Fact], tokens0: Seq[TokenRow], holders: Seq[Holder]): State = {
    val fs = facts.sortBy(_.ord)

    // --- token config: initial rows + sparse pool events --------------------
    val cfg = mutable.LinkedHashMap.empty[String, MToken]
    tokens0.foreach(t => cfg(t.token) = MToken(t.token, t.cashout_window_days,
      t.curation_reward_percentage, t.reward_pool_id, t.promoted_post_account,
      t.issuer, t.tags))
    fs.collect { case p: Pool => p }.foreach { p =>
      val prev = cfg.getOrElse(p.token, MToken(p.token, 0, 0, 0, null, null, null))
      cfg(p.token) = prev.copy(
        cwd = p.cashoutDays.getOrElse(prev.cwd),
        curationPct = p.curationPct.getOrElse(prev.curationPct),
        rpId = p.rewardPoolId.getOrElse(prev.rpId),
        issuer = p.sender, tags = p.tags.getOrElse(prev.tags))
    }
    // issuer-gated tribe settings, against the folded config
    val tribes = fs.collect { case t: Tribe => t }.flatMap { t =>
      cfg.values.find(c => c.rpId == t.rewardPoolId && c.issuer == t.user)
        .map(c => (c.token, t.ord, t.ppa))
    }
    val ppaTimeline: Map[String, Seq[(Option[Ord], String)]] =
      cfg.values.map(c => c.token ->
        ((None, c.ppa) +: tribes.filter(_._1 == c.token).map(t => (Some(t._2), t._3)))).toMap
    tribes.foreach { case (tok, _, ppa) => cfg(tok) = cfg(tok).copy(ppa = ppa) }

    // --- L1 comments ----------------------------------------------------------
    val comments = fs.collect { case c: Comment => c }
    def apOf(c: Comment) = s"@${c.author}/${c.permlink}"
    def isMain(c: Comment) = c.parentPermlink == "" || c.parentAuthor == ""
    val latestComment: Map[String, Comment] = comments.groupBy(apOf).map { case (k, v) => k -> v.last }
    def tagsOf(c: Comment): Seq[String] = {
      val category =
        if (isMain(c) && c.parentPermlink != "" && !c.parentPermlink.contains(","))
          Seq(c.parentPermlink) else Seq.empty
      (category ++ c.metaTags.filter(_ != null)).distinct
    }
    val lastDelete: Map[String, Ord] =
      fs.collect { case d: Delete => d }.groupBy(_.ap).map { case (k, v) => k -> v.last.ord }

    // --- posts core: latest newComment after the last delete -----------------
    val creates = fs.collect { case n: NewComment => n }
      .groupBy(n => (s"@${n.author}/${n.permlink}", n.token)).map { case (k, v) => k -> v.last }
      .filter { case ((ap, _), n) => lastDelete.get(ap).forall(d => ordLt(d, n.ord)) }
    val aliveAps = creates.keySet.map(_._1)

    val votes = fs.collect { case v: Vote => v }
    val lastVotePerVoter = votes.groupBy(v => (v.ap, v.token, v.voter)).map { case (k, v) => k -> v.last }
    val rshares: Map[(String, String), BigDecimal] =
      lastVotePerVoter.values.groupBy(v => (v.ap, v.token))
        .map { case (k, vs) => k -> vs.map(v => BigDecimal(v.rshares)).sum }
    val lastVote: Map[(String, String), Vote] =
      votes.groupBy(v => (v.ap, v.token)).map { case (k, v) => k -> v.last }

    val rewards = fs.collect { case r: Reward => r }
    val totals = rewards.groupBy(r => (r.ap, r.token)).map { case (k, rs) =>
      k -> (rs.map(_.quantity).sum, rs.filter(_.kind == "curationReward").map(_.quantity).sum)
    }
    val mutes = fs.collect { case m: Mute => m }
    val postMutes = fs.collect { case m: PostMute => m }
      .groupBy(m => (m.ap, m.token)).map { case (k, v) => k -> v.last }

    val promoted: Map[(String, String), BigDecimal] = fs.collect { case t: Transfer => t }
      .filter(t => !t.errored && t.memoAp.nonEmpty && ppaTimeline.get(t.token).exists { tl =>
        tl.filter(_._1.forall(o => !ordLt(t.ord, o))).last._2 == t.to
      })
      .groupBy(t => (t.memoAp, t.token)).map { case (k, ts) => k -> ts.map(_.amount).sum }

    val children: Map[String, Int] = comments
      .filter(c => !isMain(c) && aliveAps.contains(apOf(c)))
      .groupBy(c => s"@${c.parentAuthor}/${c.parentPermlink}").map { case (k, v) => k -> v.size }

    val posts = creates.toSeq.map { case ((ap, token), n) =>
      val c = latestComment.get(ap)
      val rs = rshares.getOrElse((ap, token), BigDecimal(0))
      val lv = lastVote.get((ap, token))
      val created = n.ord.sec
      val promo = promoted.get((ap, token))
      val pm = postMutes.get((ap, token)).filter(m => ordLt(n.ord, m.ord))
      val creationMute = mutes.filter(m => m.account == n.author && m.token == token &&
        ordLt(m.ord, n.ord)).lastOption.exists(_.mute)
      val (tot, cur) = totals.getOrElse((ap, token), (BigDecimal(0), BigDecimal(0)))
      MPost(ap, token, n.author, created,
        created + cfg.get(token).map(_.cwd).getOrElse(7) * 86400L, rs,
        lv.map(v => score(rs.toDouble, v.ord.sec, 480000L)).getOrElse(0f),
        lv.map(v => score(rs.toDouble, v.ord.sec, 10000L)).getOrElse(0f),
        tot, cur, promo.getOrElse(BigDecimal(0)),
        promo.map(p => score(p.toDouble, created, 480000L)).getOrElse(0f),
        pm.map(_.mute).getOrElse(creationMute),
        c.map(_.title.take(256)).orNull, c.map(_.result.take(300)).orNull,
        c.map(tagsOf).getOrElse(Seq.empty), c.map(_.app).orNull,
        c.exists(isMain), children.getOrElse(ap, 0),
        c.map(_.parentAuthor).orNull, c.map(_.parentPermlink).orNull)
    }

    // --- post_metadata: every commented authorperm, tree depth/url -----------
    val parentOf: Map[String, String] = latestComment.collect {
      case (ap, c) if !isMain(c) => ap -> s"@${c.parentAuthor}/${c.parentPermlink}"
    }
    val kids: Map[String, Seq[String]] = parentOf.toSeq.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val lineage = mutable.HashMap.empty[String, (String, Int)]
    latestComment.foreach { case (ap, c) =>
      if (isMain(c)) {
        val url = s"/${c.parentPermlink}/$ap"
        var frontier = Seq(ap); var d = 0
        lineage(ap) = (url, 0)
        while (frontier.nonEmpty && d < 8) {
          d += 1
          frontier = frontier.flatMap(kids.getOrElse(_, Seq.empty))
          frontier.foreach(k => lineage(k) = (url, d))
        }
      }
    }
    val meta = latestComment.toSeq.map { case (ap, c) =>
      MMeta(ap, c.result, c.meta, tagsOf(c), children.getOrElse(ap, 0),
        parentOf.getOrElse(ap, null), lineage.get(ap).map(_._1).orNull,
        lineage.get(ap).map(_._2))
    }

    // --- accounts: L1 activity x sidechain account mutes ---------------------
    val activity = comments.groupBy(_.author).map { case (a, cs) =>
      a -> (cs.filterNot(isMain).map(_.ord.sec).maxOption, cs.filter(isMain).map(_.ord.sec).maxOption)
    }
    val lastMute = mutes.groupBy(m => (m.account, m.token)).map { case (k, v) => k -> v.last.mute }
    val accounts = {
      val muted = lastMute.toSeq.map { case ((name, sym), m) =>
        val act = activity.get(name)
        MAccount(name, sym, act.flatMap(_._1), act.flatMap(_._2), m)
      }
      val mutedNames = lastMute.keySet.map(_._1)
      muted ++ activity.toSeq.filterNot(a => mutedNames.contains(a._1)).map { case (n, (lp, lr)) =>
        MAccount(n, "", lp, lr, muted = false)
      }
    }

    val follows = fs.collect { case f: Follow if f.valid => f }
      .groupBy(f => (f.follower, f.following)).map { case (k, v) => k -> v.last.state }
    val mainAlive = posts.filter(_.mainPost).map(_.ap).toSet
    val reblogs = fs.collect { case r: Reblog if mainAlive.contains(r.ap) => r }
      .groupBy(r => (r.account, r.ap)).map { case (k, v) => k -> v.last }
      .collect { case (k, r) if !r.delete => k -> r.ord.sec }

    State(posts,
      meta,
      lastVotePerVoter.values.toSeq.map(v =>
        MVote(v.ap, v.token, v.voter, v.ord.sec, BigDecimal(v.rshares), v.weight)),
      rewards.filter(_.quantity > 0).map(r =>
        MHist(r.account, r.token, r.ord.sec, r.quantity, r.trx,
          if (r.kind == "authorReward") "author_reward" else "curation_reward", r.ap)),
      accounts, follows, reblogs, cfg.values.toSeq, holders)
  }

  private def ordLt(a: Ord, b: Ord): Boolean = ordOrdering.lt(a, b)
}
