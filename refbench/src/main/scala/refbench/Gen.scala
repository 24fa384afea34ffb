package refbench

import java.sql.Timestamp
import scala.collection.mutable

/** Raw sidechain transaction / block: the RPC envelope the reference polls
  * (FIXTURES.md §B3). `payload` and `logs` are JSON text.
  */
case class RawTx(contract: String, action: String, sender: String,
                 transactionId: String, payload: String, logs: String)
case class RawBlock(blockNumber: Long, timestamp: String, transactions: Seq[RawTx])

/** One flattened L1 op (FIXTURES.md §B2) before its `seq` is encoded. */
case class L1Row(ts: Timestamp, op_idx: Int, op_type: String,
    author: String = null, permlink: String = null,
    parent_author: String = null, parent_permlink: String = null,
    title: String = null, body: String = null, json_metadata: String = null,
    cj_id: String = null, cj_json: String = null,
    posting_auths: Seq[String] = Seq.empty, auths: Seq[String] = Seq.empty)

/** Initial token dimension row (Schemas.tokenConfig) and a holders row. */
case class TokenRow(token: String, cashout_window_days: Int,
    curation_reward_percentage: Int, author_curve_exponent: java.math.BigDecimal,
    curation_curve_exponent: java.math.BigDecimal,
    beneficiaries_reward_percentage: Int, beneficiaries_account: String,
    promoted_post_account: String, reward_pool_id: Int, token_account: String,
    vote_regeneration_days: Int, downvote_regeneration_days: Int,
    disable_downvoting: Boolean, ignore_decline_payout: Boolean,
    tags: Seq[String], issuer: String)
case class Holder(account: String, token: String, stake: Double)

/** Semantic facts the generator emits alongside the raw inputs. The model
  * folds these, in `Ord` order, without parsing any of the raw text the
  * engine sees.
  */
object Facts {
  /** Replay order: timestamp-major, sidechain lane before L1 on ties, then
    * transaction (or L1 op) index, then event index.
    */
  case class Ord(sec: Long, lane: Int, i: Int, j: Int)
  implicit val ordOrdering: Ordering[Ord] = Ordering.by((o: Ord) => (o.sec, o.lane, o.i, o.j))

  sealed trait Fact { def ord: Ord }
  case class NewComment(ord: Ord, token: String, author: String, permlink: String) extends Fact
  case class Vote(ord: Ord, token: String, ap: String, voter: String,
                  weight: Int, rshares: Long) extends Fact
  case class Reward(ord: Ord, token: String, ap: String, kind: String,
                    account: String, quantity: BigDecimal, trx: String) extends Fact
  case class Mute(ord: Ord, token: String, account: String, mute: Boolean) extends Fact
  case class PostMute(ord: Ord, token: String, ap: String, mute: Boolean) extends Fact
  /** create/updateRewardPool: only the fields the event carries. */
  case class Pool(ord: Ord, token: String, sender: String, rewardPoolId: Option[Int],
                  cashoutDays: Option[Int], curationPct: Option[Int],
                  tags: Option[Seq[String]]) extends Fact
  /** A promotion candidate; `memoAp` is the memo's target ("" = none). */
  case class Transfer(ord: Ord, token: String, amount: BigDecimal, memoAp: String,
                      to: String, errored: Boolean) extends Fact
  case class Comment(ord: Ord, author: String, permlink: String, parentAuthor: String,
                     parentPermlink: String, title: String, body: String,
                     isPatch: Boolean, result: String, meta: String,
                     metaTags: Seq[String], app: String) extends Fact
  case class Delete(ord: Ord, ap: String) extends Fact
  case class Follow(ord: Ord, follower: String, following: String, state: Int,
                    valid: Boolean) extends Fact
  case class Reblog(ord: Ord, account: String, ap: String, delete: Boolean) extends Fact
  case class Tribe(ord: Ord, user: String, rewardPoolId: Int, ppa: String) extends Fact
}

/** Seeded generator of a reference-shaped chain history.
  *
  * `blocks` sidechain blocks are spread over `days` of chain time (empty
  * blocks are not materialized, so a block number advances by the 3-second
  * cadence between generated blocks). Every generated sidechain block has a
  * twin L1 block at the same second. Posts, replies (chains up to depth 9,
  * one past the engine's cap of 8), patch and replace edits, votes skewed
  * toward hot posts, reward triplets at cashout, mutes, promotions, follows,
  * reblogs, deletes with re-creation and tribe settings are drawn from the
  * seed.
  */
class Gen(seed: Long, blocks: Int, days: Int) {
  import Facts._
  private val rnd = new scala.util.Random(seed)

  val startSec: Long = 1709251200L          // 2024-03-01T00:00:00Z
  val endSec: Long = startSec + days * 86400L
  val startBlock: Long = 80000000L
  val users: IndexedSeq[String] = (0 until 160).map(i => f"u$i%03d")
  val tagPool: IndexedSeq[String] =
    IndexedSeq("art", "music", "life", "travel", "food", "tech", "games",
      "photo", "news", "crypto", "sports", "books")

  val tokens0: Seq[TokenRow] = Seq(
    TokenRow("PAL", 7, 50, new java.math.BigDecimal("1.0000"),
      new java.math.BigDecimal("1.0000"), 10, "benacct", "pal-promo", 1, "palcoin",
      5, 5, false, false, Seq("pal"), "pal-issuer"),
    TokenRow("LEO", 7, 50, new java.math.BigDecimal("1.0000"),
      new java.math.BigDecimal("0.5000"), 10, "benacct", "null", 2, "leocoin",
      5, 5, false, false, Seq("leo"), "leo-issuer"))
  val holders: Seq[Holder] = for {
    t <- Seq("PAL", "LEO"); u <- users if (u.hashCode + t.hashCode) % 3 == 0
  } yield Holder(u, t, (u.drop(1).toInt * 7 % 97).toDouble + 0.5)

  val rawBlocks = mutable.ArrayBuffer.empty[RawBlock]
  val l1 = mutable.ArrayBuffer.empty[L1Row]
  val facts = mutable.ArrayBuffer.empty[Fact]

  // --- generator-side world state (what a real chain would let happen) ------
  case class P(ap: String, author: String, permlink: String, parentAuthor: String,
               parentPermlink: String, tokens: Seq[String], depth: Int,
               created: Long, var body: String, title: String, meta: String,
               metaTags: Seq[String], app: String, var alive: Boolean,
               var paid: Boolean)
  private val posts = mutable.ArrayBuffer.empty[P]
  private val byAp = mutable.HashMap.empty[String, P]
  private val voted = mutable.HashSet.empty[(String, String, String)]
  private val reblogged = mutable.HashSet.empty[(String, String)]
  private var ppa = Map("PAL" -> "pal-promo", "LEO" -> "null")
  private var newTokenLive = false
  private var txCounter = 0

  private def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.length))
  private def words(n: Int): String =
    (0 until n).map(_ => pick(Gen.lexicon)).mkString(" ")
  private def iso(sec: Long): String = java.time.Instant.ofEpochSecond(sec).toString.stripSuffix("Z")
  private def q(s: String): String = Json.str(s)

  generate()

  private def generate(): Unit = {
    val span = endSec - startSec
    val secs = (0 until blocks).map(i => startSec + (span * i / blocks) / 3 * 3).distinct
    val tribeAt = Set(secs.length / 3, 2 * secs.length / 3)
    secs.zipWithIndex.foreach { case (sec, bi) =>
      block(sec, bi, tribeAt.contains(bi), bi == secs.length / 10, bi == secs.length / 2)
    }
  }

  /** One sidechain block plus its same-second L1 block. */
  private def block(sec: Long, bi: Int, tribe: Boolean, createPool: Boolean,
                    updatePool: Boolean): Unit = {
    val txs = mutable.ArrayBuffer.empty[RawTx]
    val ops = mutable.ArrayBuffer.empty[L1Row]
    val ts = new Timestamp(sec * 1000L)
    def scOrd(j: Int) = Ord(sec, 0, txs.length, j)
    def l1Ord = Ord(sec, 1, ops.length, 0)
    def txid(): String = { txCounter += 1; f"tx$seed%d-$txCounter%08d" }
    def events(evs: Seq[(String, Seq[(String, String)])]): String =
      Json.obj("events" -> Json.arr(evs.map { case (e, data) =>
        Json.obj("contract" -> q("comments"), "event" -> q(e),
          "data" -> Json.obj(data.map { case (k, v) => k -> q(v) }: _*))
      }: _*))
    val liveTokens = if (newTokenLive) Seq("PAL", "LEO", "NEW") else Seq("PAL", "LEO")

    // --- pool config events -------------------------------------------------
    if (createPool) {
      facts += Pool(scOrd(0), "NEW", "new-issuer", Some(3), Some(7), Some(40), Some(Seq("new")))
      txs += RawTx("comments", "createRewardPool", "new-issuer", txid(),
        Json.obj("symbol" -> q("NEW"), "config" -> Json.obj(
          "cashoutWindowDays" -> "7", "curationRewardPercentage" -> "40",
          "postRewardCurveParameter" -> q("1.0"),
          "curationRewardCurveParameter" -> q("0.5"),
          "tags" -> Json.arr(q("new")))),
        events(Seq("createRewardPool" -> Seq("symbol" -> "NEW", "_id" -> "3"))))
      newTokenLive = true
    }
    if (updatePool) {
      facts += Pool(scOrd(0), "PAL", "pal-issuer", None, None, Some(25), None)
      txs += RawTx("comments", "updateRewardPool", "pal-issuer", txid(),
        Json.obj("symbol" -> q("PAL"), "config" -> Json.obj("curationRewardPercentage" -> "25")),
        events(Seq("updateRewardPool" -> Seq("symbol" -> "PAL"))))
    }

    def createPost(author: String, permlink: String, pa: String, pp: String,
                   toks: Seq[String], depth: Int): Unit = {
      val ap = s"@$author/$permlink"
      if (byAp.get(ap).exists(_.alive)) return
      val tags = rnd.shuffle(tagPool).take(rnd.nextInt(3))
      val metaTags = if (depth == 0) pp +: tags else tags
      val app = pick(IndexedSeq("peakd/2024.3", "ecency/3.1", "leofinance/1"))
      // the json_metadata shapes the reference sees: a dict, a dict sent as
      // a JSON-encoded string, and a non-dict
      val shape = rnd.nextDouble()
      val metaText = Json.obj("tags" -> Json.arr(metaTags.map(q): _*), "app" -> q(app))
      val (rawMeta, meta, mtags, mapp) =
        if (shape < 0.1) (q(metaText), metaText, metaTags, app)
        else if (shape < 0.13) ("[]", "[]", Seq.empty, null)
        else (metaText, metaText, metaTags, app)
      val title = if (depth == 0) words(3 + rnd.nextInt(4)) else ""
      val body = words(12 + rnd.nextInt(30))
      val p = P(ap, author, permlink, pa, pp, toks, depth, sec, body, title, meta,
        mtags, mapp, alive = true, paid = false)
      val tx = RawTx("comments", "comment", author, txid(),
        Json.obj("author" -> q(author), "permlink" -> q(permlink)),
        events(toks.map(t => "newComment" -> Seq("symbol" -> t))))
      toks.zipWithIndex.foreach { case (t, j) => facts += NewComment(scOrd(j), t, author, permlink) }
      txs += tx
      facts += Comment(l1Ord, author, permlink, pa, pp, title, body, isPatch = false,
        body, meta, mtags, mapp)
      ops += L1Row(ts, ops.length, "comment", author, permlink, pa, pp, title, body,
        rawMeta)
      if (!byAp.contains(ap)) posts += p
      byAp(ap) = p
    }

    // --- new main posts -------------------------------------------------------
    val nMain = if (rnd.nextDouble() < 0.55) 1 + rnd.nextInt(2) else 0
    (0 until nMain).foreach { k =>
      val author = pick(users)
      val permlink = s"p$bi-$k"
      val toks = if (rnd.nextDouble() < 0.25) liveTokens.take(2)
                 else Seq(pick(liveTokens.toIndexedSeq))
      val category = if (rnd.nextDouble() < 0.1) toks.head.toLowerCase else pick(tagPool)
      createPost(author, permlink, "", category, toks, 0)
    }
    // --- replies, preferring recent posts; chains go one past the depth cap -
    val nReply = if (rnd.nextDouble() < 0.7) 1 + rnd.nextInt(2) else 0
    (0 until nReply).foreach { k =>
      recentAlive(3 * 86400L, _.depth < 9).foreach { parent =>
        val chain = if (rnd.nextDouble() < 0.5) deepest(parent) else parent
        createPost(pick(users), s"re$bi-$k", chain.author, chain.permlink,
          chain.tokens, chain.depth + 1)
      }
    }

    // --- edits: patch (append) or full replacement ---------------------------
    if (rnd.nextDouble() < 0.3) recentAlive(10 * 86400L, _ => true).foreach { p =>
      val replace = rnd.nextDouble() < 0.25
      val added = words(2 + rnd.nextInt(4))
      val newBody = if (replace) words(10 + rnd.nextInt(10)) else p.body + " " + added
      val text =
        if (replace) newBody
        else {
          val c = math.min(8, p.body.length)
          val start = p.body.length - c + 1
          s"@@ -$start,$c +$start,${c + added.length + 1} @@\n ${p.body.takeRight(c)}\n+ $added\n"
        }
      facts += Comment(l1Ord, p.author, p.permlink, p.parentAuthor, p.parentPermlink,
        p.title, text, isPatch = !replace, newBody, p.meta, p.metaTags, p.app)
      ops += L1Row(ts, ops.length, "comment", p.author, p.permlink, p.parentAuthor,
        p.parentPermlink, p.title, text,
        if (p.meta == "[]") "[]" else p.meta)
      p.body = newBody
    }

    // --- votes, skewed toward hot (recent, low-index) posts -------------------
    val nVotes = rnd.nextInt(6)
    (0 until nVotes).foreach { _ =>
      hot().foreach { p =>
        val token = pick(p.tokens.toIndexedSeq)
        val voter = pick(users)
        val key = (p.ap, token, voter)
        val update = voted.contains(key)
        val rshares = if (rnd.nextDouble() < 0.08) -(1 + rnd.nextInt(5000)).toLong
                      else (1 + rnd.nextInt(900000)).toLong
        val weight = (rshares.signum * (100 + rnd.nextInt(9900))).toInt
        val errored = rnd.nextDouble() < 0.03
        val logs =
          if (errored) Json.obj("errors" -> Json.arr(q("not enough voting power")))
          else events(Seq((if (update) "updateVote" else "newVote") ->
            Seq("symbol" -> token, "rshares" -> rshares.toString)))
        if (!errored) {
          facts += Vote(scOrd(0), token, p.ap, voter, weight, rshares)
          voted += key
        }
        txs += RawTx("comments", "vote", voter, txid(),
          Json.obj("author" -> q(p.author), "permlink" -> q(p.permlink),
            "voter" -> q(voter), "weight" -> weight.toString), logs)
      }
    }

    // --- reward triplets at cashout ------------------------------------------
    posts.iterator.filter(p => p.alive && !p.paid && p.created + 7 * 86400L <= sec)
      .take(3).foreach { p =>
        p.paid = true
        val token = p.tokens.head
        val curator = pick(users.filterNot(_ == p.author))
        val cq = BigDecimal(rnd.nextInt(5000)) / 1000
        val bq = BigDecimal(rnd.nextInt(800)) / 1000
        val aq = BigDecimal(1 + rnd.nextInt(20000)) / 1000
        val id = txid()
        val evs = Seq(("curationReward", curator, cq), ("beneficiaryReward", "benacct", bq),
          ("authorReward", p.author, aq))
        evs.zipWithIndex.foreach { case ((e, acct, qty), j) =>
          facts += Reward(scOrd(j), token, p.ap, e, acct, qty, id)
        }
        txs += RawTx("comments", "comment", "null", id, Json.obj("authorperm" -> q(p.ap)),
          events(evs.map { case (e, acct, qty) =>
            e -> Seq("symbol" -> token, "authorperm" -> p.ap, "account" -> acct,
              "quantity" -> qty.bigDecimal.toPlainString)
          }))
      }

    // --- mutes, addressed by reward pool id -----------------------------------
    if (rnd.nextDouble() < 0.04) {
      val (token, rp) = pick(IndexedSeq("PAL" -> 1, "LEO" -> 2))
      val acct = pick(users.take(40))
      val mute = rnd.nextDouble() < 0.7
      facts += Mute(scOrd(0), token, acct, mute)
      txs += RawTx("comments", "setMute", s"${token.toLowerCase}-issuer", txid(),
        Json.obj("rewardPoolId" -> rp.toString, "account" -> q(acct), "mute" -> mute.toString),
        "{}")
    }
    if (rnd.nextDouble() < 0.05) hot().foreach { p =>
      val token = p.tokens.head
      val rp = if (token == "PAL") 1 else if (token == "LEO") 2 else 0
      if (rp > 0) {
        val mute = rnd.nextDouble() < 0.7
        facts += PostMute(scOrd(0), token, p.ap, mute)
        txs += RawTx("comments", "setPostMute", s"${token.toLowerCase}-issuer", txid(),
          Json.obj("rewardPoolId" -> rp.toString, "authorperm" -> q(p.ap),
            "mute" -> mute.toString), "{}")
      }
    }

    // --- promotion transfers: valid, quoted, h@, wrong recipient, errored -----
    if (rnd.nextDouble() < 0.2) hot().foreach { p =>
      val token = p.tokens.head
      if (token != "NEW") {
        val variant = rnd.nextInt(10)
        val amount = BigDecimal(1 + rnd.nextInt(5000)) / 100
        val (memo, memoAp) = variant match {
          case 1 => (s"'${p.ap}'", p.ap)
          case 2 => (s"h${p.ap}", s"h${p.ap}")
          case 3 => ("thanks for the post", "")
          case _ => (p.ap, p.ap)
        }
        val to = if (variant == 4) "someone-else" else ppa(token)
        val errored = variant == 5
        facts += Transfer(scOrd(0), token, amount, memoAp, to, errored)
        txs += RawTx("tokens", "transfer", pick(users), txid(),
          Json.obj("symbol" -> q(token), "quantity" -> q(amount.bigDecimal.toPlainString),
            "memo" -> q(memo), "to" -> q(to)),
          if (errored) Json.obj("errors" -> Json.arr(q("overdrawn balance"))) else "{}")
      }
    }

    // --- L1 social ops --------------------------------------------------------
    val nFollow = rnd.nextInt(3)
    (0 until nFollow).foreach { _ =>
      val follower = pick(users); val following = pick(users)
      val (what, state) = rnd.nextInt(10) match {
        case 0 | 1 => ("[\"ignore\"]", 2)
        case 2 => ("[]", 0)
        case _ => ("[\"blog\"]", 1)
      }
      val forged = rnd.nextDouble() < 0.05
      val signer = if (forged) pick(users) else follower
      val inner = s"""["follow",{"follower":${q(follower)},"following":${q(following)},"what":$what}]"""
      val raw = if (rnd.nextDouble() < 0.15) q(inner) else inner
      facts += Follow(l1Ord, follower, following, state, valid = signer == follower)
      ops += L1Row(ts, ops.length, "custom_json", cj_id = "follow", cj_json = raw,
        posting_auths = Seq(signer))
    }
    if (rnd.nextDouble() < 0.35) {
      val account = pick(users)
      val target = recentMain(20 * 86400L)
      target.foreach { p =>
        val del = reblogged.contains((account, p.ap)) && rnd.nextDouble() < 0.4
        if (del) reblogged -= ((account, p.ap)) else reblogged += ((account, p.ap))
        val inner = Json.arr(q("reblog"), Json.obj(Seq("account" -> q(account),
          "author" -> q(p.author), "permlink" -> q(p.permlink)) ++
          (if (del) Seq("delete" -> q("delete")) else Seq.empty): _*))
        facts += Reblog(l1Ord, account, p.ap, del)
        ops += L1Row(ts, ops.length, "custom_json", cj_id = "reblog",
          cj_json = if (rnd.nextDouble() < 0.1) q(inner) else inner,
          posting_auths = Seq(account))
      }
    }
    // delete, and sometimes re-create at once (a later incarnation)
    if (rnd.nextDouble() < 0.04) recentAlive(6 * 86400L, _.depth == 0).foreach { p =>
      facts += Delete(l1Ord, p.ap)
      ops += L1Row(ts, ops.length, "delete_comment", p.author, p.permlink)
      p.alive = false
    }
    if (tribe) {
      val next = if (ppa("PAL") == "pal-promo") "pal-promo2" else "pal-promo3"
      facts += Tribe(l1Ord, "pal-issuer", 1, next)
      ops += L1Row(ts, ops.length, "custom_json", cj_id = "scot_set_tribe_settings",
        cj_json = s"""{"reward_pool_id":1,"promoted_post_account":${q(next)}}""",
        posting_auths = Seq("pal-issuer"))
      ppa += "PAL" -> next
      facts += Tribe(l1Ord, "u007", 1, "evil")
      ops += L1Row(ts, ops.length, "custom_json", cj_id = "scot_set_tribe_settings",
        cj_json = q("""{"reward_pool_id":1,"promoted_post_account":"evil"}"""),
        posting_auths = Seq("u007"))
    }
    // re-creation of an earlier deleted post
    if (rnd.nextDouble() < 0.03) posts.iterator.find(p => !p.alive && p.depth == 0 &&
        sec - p.created < 20 * 86400L).foreach { d =>
      val toks = d.tokens
      val np = d.copy(created = sec, alive = true, paid = false,
        body = words(15), title = d.title + " again")
      txs += RawTx("comments", "comment", d.author, txid(),
        Json.obj("author" -> q(d.author), "permlink" -> q(d.permlink)),
        events(toks.map(t => "newComment" -> Seq("symbol" -> t))))
      toks.zipWithIndex.foreach { case (t, j) =>
        facts += NewComment(Ord(sec, 0, txs.length - 1, j), t, d.author, d.permlink)
      }
      facts += Comment(l1Ord, d.author, d.permlink, "", d.parentPermlink, np.title,
        np.body, isPatch = false, np.body, d.meta, d.metaTags, d.app)
      ops += L1Row(ts, ops.length, "comment", d.author, d.permlink, "", d.parentPermlink,
        np.title, np.body, d.meta)
      posts(posts.indexOf(d)) = np
      byAp(d.ap) = np
    }

    require(txs.length < 2048 && ops.length < 2048)
    if (txs.nonEmpty) rawBlocks += RawBlock(startBlock + (sec - startSec) / 3, iso(sec), txs.toSeq)
    l1 ++= ops
  }

  private def recentAlive(window: Long, f: P => Boolean): Option[P] = {
    val now = if (posts.isEmpty) 0L else posts.last.created
    val c = posts.reverseIterator.takeWhile(p => now - p.created <= window)
      .filter(p => p.alive && f(p)).take(40).toIndexedSeq
    if (c.isEmpty) None else Some(pick(c))
  }
  private def recentMain(window: Long): Option[P] = recentAlive(window, _.depth == 0)
  private def deepest(p: P): P = {
    val kids = posts.reverseIterator.take(60)
      .filter(c => c.alive && c.parentAuthor == p.author && c.parentPermlink == p.permlink &&
        c.depth < 9).toSeq
    if (kids.isEmpty) p else deepest(kids.head)
  }
  /** Zipf-like pick among the 30 most recent live posts. */
  private def hot(): Option[P] = {
    val c = posts.reverseIterator.filter(_.alive).take(30).toIndexedSeq
    if (c.isEmpty) None
    else Some(c(math.min(c.length - 1, (c.length * math.pow(rnd.nextDouble(), 3)).toInt)))
  }
}

object Gen {
  val lexicon: IndexedSeq[String] =
    ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor " +
      "incididunt ut labore et dolore magna aliqua enim ad minim veniam quis nostrud " +
      "exercitation ullamco laboris nisi aliquip ex ea commodo consequat duis aute irure " +
      "in reprehenderit voluptate velit esse cillum fugiat nulla pariatur").split(" ").toIndexedSeq
}

/** Minimal JSON text builders for the generated payloads. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: String*): String = vs.mkString("[", ",", "]")
}
