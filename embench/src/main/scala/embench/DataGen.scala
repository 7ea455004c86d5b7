package embench

import scala.collection.mutable

import graft.ml.TrainData

/** A name to match. `entityId` is the truth: a GT entity for positives, an id
  * absent from the GT for negatives. `account` groups names of one entity.
  */
final case class NameRow(uid: Long, name: String, entityId: Long,
                         account: Long, freq: Long, positive: Boolean)

/** Seeded synthetic company names.
  *
  * Words are drawn Zipf-skewed from a pseudo-word vocabulary, so a few words
  * are very common and most are rare, as in real company names; common
  * business tokens and legal forms are mixed in. Every GT name is distinct on
  * its words without the legal form, so a hit on the GT name is unambiguous.
  * Positives are GT names noised by `TrainData.noise`; negatives are fresh
  * names whose words match no GT name.
  */
final class DataGen(seed: Long) {
  private val rng = new java.util.Random(seed)
  private val vocabSize = 40000
  private val zipfS = 1.05

  private val syllables: Array[String] = for {
    c <- Array("b", "br", "c", "d", "f", "g", "gr", "h", "k", "l", "m", "n", "p",
               "r", "s", "st", "t", "tr", "v", "w", "z")
    v <- Array("a", "e", "i", "o", "u", "ar", "en", "on")
  } yield c + v

  private val common = Array("international", "group", "holding", "services",
    "trading", "global", "solutions", "industries", "capital", "partners",
    "systems", "logistics", "consulting", "technologies", "investments",
    "management", "energy", "foods", "bank", "finance")
  private val legalForms = Array("bv", "ltd", "inc", "gmbh", "llc", "nv", "sa",
    "plc", "ag", "corp", "co", "srl")

  // vocabulary: distinct pseudo-words of 2-4 syllables, shuffled by the seed
  private val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < vocabSize) {
      val n = 2 + rng.nextInt(3)
      seen += Array.fill(n)(syllables(rng.nextInt(syllables.length))).mkString
    }
    seen.toArray
  }

  // Zipf CDF over vocabulary ranks
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(r => 1.0 / math.pow(r + 1, zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocabSize - 1))
  }

  /** (key, full name): the key is the name without its legal form. */
  private def freshName(): (String, String) = {
    val nWords = rng.nextDouble() match {
      case x if x < 0.25 => 1
      case x if x < 0.70 => 2
      case _             => 3
    }
    val words = mutable.ArrayBuffer.fill(nWords)(word())
    if (rng.nextDouble() < 0.3) words += common(rng.nextInt(common.length))
    val key = words.mkString(" ")
    val full =
      if (rng.nextDouble() < 0.5) key + " " + legalForms(rng.nextInt(legalForms.length))
      else key
    (key, full)
  }

  private val keys = mutable.HashSet.empty[String]

  /** `n` GT names, all distinct on their keys; entity id == uid == index. */
  def groundTruth(n: Int): Array[String] = Array.fill(n) {
    var kn = freshName()
    while (!keys.add(kn._1)) kn = freshName()
    kn._2
  }

  /** Noised copy of `name`: one or two `TrainData.noise` passes. */
  def noised(name: String): String = {
    val once = TrainData.noise(name, rng.nextLong())
    if (rng.nextBoolean()) TrainData.noise(once, rng.nextLong()) else once
  }

  /** A name whose key matches no GT name (and no earlier negative). */
  def negativeName(): String = {
    var kn = freshName()
    while (!keys.add(kn._1)) kn = freshName()
    kn._2
  }

  /** About `n` names in accounts of 1-3 names of one entity each: a share
    * `positiveFrac` are noised variants of GT entities drawn from
    * `entityPool`, the rest negatives with entity ids from `nGt` upward.
    * uids start at `uidBase`; account ids at `accountBase`.
    */
  def names(n: Int, positiveFrac: Double, gt: Array[String], entityPool: IndexedSeq[Int],
            uidBase: Long, accountBase: Long): Array[NameRow] = {
    val out = mutable.ArrayBuffer.empty[NameRow]
    var account = accountBase
    var nextNegEntity = gt.length.toLong + accountBase
    while (out.size < n) {
      val size = math.min(1 + rng.nextInt(3), n - out.size)
      val positive = rng.nextDouble() < positiveFrac
      val (entity, base) =
        if (positive) { val e = entityPool(rng.nextInt(entityPool.size)); (e.toLong, gt(e)) }
        else { nextNegEntity += 1; (nextNegEntity, negativeName()) }
      for (_ <- 0 until size) {
        val name = if (positive) noised(base) else if (rng.nextDouble() < 0.5) base else noised(base)
        out += NameRow(uidBase + out.size, name, entity, account, 1L + rng.nextInt(20), positive)
      }
      account += 1
    }
    out.toArray
  }

  /** The entity indices [0, nGt) in seeded order. */
  def shuffledEntities(nGt: Int): IndexedSeq[Int] = {
    val a = Array.range(0, nGt)
    for (i <- nGt - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}
