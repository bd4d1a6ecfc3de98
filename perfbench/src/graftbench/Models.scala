package graftbench

import java.nio.charset.StandardCharsets

/** Plain-Scala models the benchmark checks graft's outputs against. They
  * share no code with graft: each re-derives its answer from the
  * generated inputs, single-threaded, in memory. */
object Models {

  // ---- reference parse + NB clean, re-implemented with java.util.regex ----

  private val NbUrl = java.util.regex.Pattern.compile(
    "(?i)(https?:\\/\\/(?:www\\.|(?!www))[a-zA-Z0-9][a-zA-Z0-9-]+[a-zA-Z0-9]\\.[^\\s]{2,}" +
      "|www\\.[a-zA-Z0-9][a-zA-Z0-9-]+[a-zA-Z0-9]\\.[^\\s]{2,}" +
      "|https?:\\/\\/(?:www\\.|(?!www))[a-zA-Z0-9]+\\.[^\\s]{2,}" +
      "|www\\.[a-zA-Z0-9]+\\.[^\\s]{2,})")
  private val Mention = java.util.regex.Pattern.compile("(#|@|&).*?\\w+")

  /** The reference's positional parse (split on every comma, stitch the
    * text columns back WITHOUT the commas) → (id, label 0/1, text). */
  def parse(line: String): (String, Int, String) = {
    val p = line.split(",", -1)
    (p(0), if (p(1) == "1") 1 else 0, p.drop(3).mkString(""))
  }

  /** NB-dialect clean: url → mention → digits → non-alpha → lower → trim → squeeze. */
  def cleanNb(t: String): String = {
    val a = Mention.matcher(NbUrl.matcher(t).replaceAll("")).replaceAll("")
    a.replaceAll("\\d+", "").replaceAll("[^a-zA-Z ]", " ").toLowerCase(java.util.Locale.ROOT)
      .trim.replaceAll("\\s+", " ")
  }

  private def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** Confusion counts (tp, fp, tn, fn) of the hand-rolled log-space NB:
    * train on rows with crc32(id) % 4 != 0, add-1 smoothing over the train
    * vocabulary, class priors from train tweet counts, predict positive
    * iff the log-odds margin is > 0; test tokens unseen in train are
    * ignored. */
  def handNb(lines: Seq[String]): (Long, Long, Long, Long) = {
    val docs = lines.map { l =>
      val (id, label, text) = parse(l)
      (id, label, crc32(id) % 4 != 0, cleanNb(text))
    }
    val train = docs.filter(_._3)
    val pos = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val neg = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var posWords, negWords = 0L
    train.filter(_._4.nonEmpty).foreach { case (_, label, _, clean) =>
      clean.split(" ").foreach { w =>
        if (label == 1) { pos(w) += 1; posWords += 1 } else { neg(w) += 1; negWords += 1 }
      }
    }
    val vocab = pos.keySet ++ neg.keySet
    val features = vocab.size.toDouble
    val posTweets = train.count(_._2 == 1).toDouble
    val negTweets = train.count(_._2 != 1).toDouble
    val tweets = train.size.toDouble
    var tp, fp, tn, fn = 0L
    docs.filterNot(_._3).foreach { case (_, label, _, clean) =>
      val toks = if (clean.nonEmpty) clean.split(" ").toSeq.filter(vocab.contains) else Nil
      val sp = toks.map(w => math.log(pos(w) + 1.0)).sum
      val sn = toks.map(w => math.log(neg(w) + 1.0)).sum
      val n = toks.size
      val margin = (sp - n * math.log(posWords + features) + math.log(posTweets / tweets)) -
        (sn - n * math.log(negWords + features) + math.log(negTweets / tweets))
      val pred = if (margin > 0) 1 else 0
      if (pred == 1 && label == 1) tp += 1
      else if (pred == 1) fp += 1
      else if (label == 0) tn += 1
      else fn += 1
    }
    (tp, fp, tn, fn)
  }

  // ---- dedup models ----

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Exact-duplicate groups by in-memory hash grouping:
    * (md5 hex of text, copies, min doc_id) for texts with > 1 copy. */
  def exactDupGroups(docs: Seq[(Long, String)]): Set[(String, Long, Long)] =
    docs.groupBy(_._2).collect {
      case (text, g) if g.size > 1 => (md5Hex(text), g.size.toLong, g.map(_._1).min)
    }.toSet

  /** Connected components of an undirected pair list by union-find:
    * doc_id → (cluster_id = min member, cluster size), members only. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
    }
    val root = parent.keys.map(k => k -> find(k)).toMap
    val size = root.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    root.map { case (k, r) => k -> (r, size(r)) }
  }
}
