package graftbench

import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}

import scala.collection.mutable

/**
 * Correctness checks with the benchmark's own ground truth. Every check
 * is a pure function over results already collected to the driver and
 * returns the list of problems it found (empty = correct), so the
 * self-test can feed it corrupted results.
 */
object Check {

  final case class Hit(qid: Long, id: Long, dist: Double, rank: Int)

  /** Quality of one checked ANN batch: per-query recall@k and mean
    * distance ratio (ANN dist / exact dist, per rank). */
  final case class AnnQuality(recall: Seq[Double], ratio: Seq[Double])

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Exact k nearest (id, dist) by brute force, ties broken by id. */
  def exactKnn(q: Array[Float], live: collection.Map[Long, Array[Float]], k: Int): Seq[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)]
    live.foreach { case (id, v) =>
      val d = l2(q, v)
      if (heap.size < k) heap.enqueue((d, id))
      else if (d < heap.head._1 || (d == heap.head._1 && id < heap.head._2)) {
        heap.dequeue(); heap.enqueue((d, id))
      }
    }
    heap.toSeq.sortBy(x => (x._1, x._2)).map(x => (x._2, x._1))
  }

  /**
   * Validate a top-k answer for `queries` against the live vector set:
   * each query has k rows ranked 1..k, distinct live ids, the reported
   * distance equals the exact one (to the 4 decimals graft rounds to)
   * and rows are ordered by distance. Recall and distance ratio are
   * measured against exact kNN over `live`.
   */
  def ann(hits: Seq[Hit], queries: collection.Map[Long, Array[Float]],
      live: collection.Map[Long, Array[Float]], k: Int): (Seq[String], AnnQuality) = {
    val errs = mutable.ArrayBuffer.empty[String]
    val recall = mutable.ArrayBuffer.empty[Double]
    val ratio = mutable.ArrayBuffer.empty[Double]
    val byQ = hits.groupBy(_.qid)
    byQ.keys.filterNot(queries.contains).foreach(q => errs += s"answer for unknown query $q")
    queries.foreach { case (qid, qv) =>
      val rows = byQ.getOrElse(qid, Seq.empty).sortBy(_.rank)
      val want = math.min(k, live.size)
      if (rows.size != want) errs += s"query $qid: ${rows.size} rows, expected $want"
      if (rows.map(_.rank) != (1 to rows.size)) errs += s"query $qid: ranks ${rows.map(_.rank).mkString(",")}"
      if (rows.map(_.id).distinct.size != rows.size) errs += s"query $qid: duplicate ids"
      rows.foreach { h =>
        live.get(h.id) match {
          case None => errs += s"query $qid: id ${h.id} is not live"
          case Some(v) =>
            val d = l2(qv, v)
            if (math.abs(d - h.dist) > 1e-3 * math.max(1.0, d))
              errs += s"query $qid: id ${h.id} dist ${h.dist} != exact $d"
        }
      }
      if (rows.map(_.dist) != rows.map(_.dist).sorted) errs += s"query $qid: rows not ordered by dist"
      val truth = exactKnn(qv, live, k)
      val got = rows.map(_.id).toSet
      recall += (if (truth.isEmpty) 1.0 else truth.count(t => got(t._1)).toDouble / truth.size)
      rows.zip(truth).foreach { case (h, (_, td)) =>
        if (td > 0) live.get(h.id).foreach(v => ratio += l2(qv, v) / td)
      }
    }
    (errs.toSeq, AnnQuality(recall.toSeq, ratio.toSeq))
  }

  /** Every inserted id queried by its own vector comes back at distance 0. */
  def visible(hits: Seq[Hit], inserted: Seq[Long]): Seq[String] = {
    val own = hits.filter(h => h.qid == h.id).map(_.qid).toSet
    inserted.filterNot(own).map(id => s"inserted id $id not visible to its own vector")
  }

  /** No answer carries a deleted id. */
  def absent(hits: Seq[Hit], deleted: collection.Set[Long]): Seq[String] =
    hits.filter(h => deleted(h.id)).map(h => s"deleted id ${h.id} answered query ${h.qid}")

  /** The same answers, row for row. */
  def sameAnswers(before: Seq[Hit], after: Seq[Hit]): Seq[String] = {
    val a = before.toSet
    val b = after.toSet
    (a -- b).toSeq.map(h => s"lost after restore: $h") ++ (b -- a).toSeq.map(h => s"new after restore: $h")
  }

  /** One encrypted store record (VersionedCrypto's (id, kv, iv, ct)). */
  final case class Sealed(id: Long, kv: Int, iv: Array[Byte], ct: Array[Byte])

  /** AES-GCM under the version's derived key with the id as AAD; the
    * ciphertext carries its 12-byte IV in front. Vectors are packed as
    * little-endian float32. */
  def decrypt(r: Sealed, key: Int => Array[Byte]): Array[Float] = {
    val c = Cipher.getInstance("AES/GCM/NoPadding")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key(r.kv), "AES"),
      new GCMParameterSpec(128, r.ct, 0, 12))
    c.updateAAD(r.id.toString.getBytes("UTF-8"))
    val plain = c.doFinal(r.ct, 12, r.ct.length - 12)
    val bb = java.nio.ByteBuffer.wrap(plain).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(plain.length / 4)(bb.getFloat())
  }

  /**
   * After a rotation to `version`: every touched record is at `version`
   * and decrypts to its original vector; untouched records keep an
   * older key version and still decrypt to theirs.
   */
  def rotated(records: Seq[Sealed], touched: collection.Set[Long], version: Int,
      original: collection.Map[Long, Array[Float]], key: Int => Array[Byte]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    records.groupBy(_.id).foreach { case (id, rs) =>
      if (rs.size != 1) errs += s"store holds ${rs.size} records for id $id"
      rs.foreach { r =>
        if (touched(id) && r.kv != version) errs += s"touched id $id at kv ${r.kv}, expected $version"
        if (!touched(id) && r.kv >= version) errs += s"untouched id $id moved to kv ${r.kv}"
        val v = scala.util.Try(decrypt(r, key)).toOption
        if (!v.exists(java.util.Arrays.equals(_, original(id))))
          errs += s"id $id does not decrypt to its vector under kv ${r.kv}"
      }
    }
    errs.toSeq
  }

  /** Word 3-shingles of a lower-cased, space-split doc (the whole text
    * when shorter than 3 tokens). */
  def shingles(text: String): Set[String] = {
    val t = text.toLowerCase.split(" ", -1)
    if (t.length < 3) Set(t.mkString(" "))
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val x = shingles(a)
    val y = shingles(b)
    (x intersect y).size.toDouble / (x union y).size
  }

  final case class Pair(a: Long, b: Long, jaccard: Double)

  /**
   * Near-dup pairs: each reported pair is ordered, unique, at or above
   * the threshold, and carries its exact Jaccard (floored to 4 decimals
   * as graft reports it). Returns the problems and the recall over the
   * planted (source, copy) pairs whose exact Jaccard reaches the threshold.
   */
  def pairs(found: Seq[Pair], text: Long => String, planted: Seq[(Long, Long)],
      threshold: Double): (Seq[String], Double) = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (found.map(p => (p.a, p.b)).distinct.size != found.size) errs += "duplicate pairs"
    found.foreach { p =>
      if (p.a >= p.b) errs += s"pair (${p.a}, ${p.b}) not ordered"
      val j = jaccard(text(p.a), text(p.b))
      if (math.abs(math.floor(j * 10000) / 10000 - p.jaccard) > 1e-9)
        errs += s"pair (${p.a}, ${p.b}) jaccard ${p.jaccard} != exact $j"
      if (j < threshold) errs += s"pair (${p.a}, ${p.b}) below threshold: $j"
    }
    val got = found.map(p => (p.a, p.b)).toSet
    val due = planted.map { case (s, c) => (math.min(s, c), math.max(s, c)) }
      .filter { case (a, b) => jaccard(text(a), text(b)) >= threshold }
    val recall = if (due.isEmpty) 1.0 else due.count(got).toDouble / due.size
    (errs.toSeq, recall)
  }

  /** Each doc's keeper is the minimum id of its component in the pair
    * graph; docs in no pair keep themselves. */
  def keepers(labels: Seq[(Long, Long)], found: Seq[Pair]): Seq[String] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def root(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = root(p); parent(x) = r; r }
    }
    found.foreach { p =>
      val (ra, rb) = (root(p.a), root(p.b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val errs = mutable.ArrayBuffer.empty[String]
    if (labels.map(_._1).distinct.size != labels.size) errs += "doc labelled twice"
    // union by min id keeps every root at its component's minimum
    labels.foreach { case (id, keeper) =>
      if (keeper != root(id)) errs += s"doc $id keeper $keeper, component minimum ${root(id)}"
    }
    errs.toSeq
  }

  /** dedupApply keeps exactly the docs that are their own keeper. */
  def applied(kept: Seq[Long], labels: Seq[(Long, Long)]): Seq[String] = {
    val want = labels.collect { case (id, k) if id == k => id }.toSet
    val got = kept.toSet
    val errs = mutable.ArrayBuffer.empty[String]
    if (kept.size != got.size) errs += "dedupApply output has duplicate docs"
    (want -- got).take(5).foreach(id => errs += s"keeper $id dropped")
    (got -- want).take(5).foreach(id => errs += s"non-keeper $id kept")
    errs.toSeq
  }
}
