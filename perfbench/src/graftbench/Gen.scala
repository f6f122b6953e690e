package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Vocabularies come from a fixed seed so every
  * workload seed sees the same value distributions (and the same hot
  * blocks); the records drawn from them depend on the workload seed. */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  /** Distinct pseudo-words of `minSyl` to `maxSyl` consonant-vowel
    * syllables, from a fixed seed. */
  def words(n: Int, minSyl: Int, maxSyl: Int, vocabSeed: Long): Array[String] = {
    val r = new SplittableRandom(vocabSeed)
    val out = new java.util.LinkedHashSet[String]()
    while (out.size < n) {
      val syl = minSyl + r.nextInt(maxSyl - minSyl + 1)
      val sb = new StringBuilder
      for (_ <- 0 until syl) {
        sb += Consonants.charAt(r.nextInt(Consonants.length))
        sb += Vowels.charAt(r.nextInt(Vowels.length))
        if (r.nextInt(4) == 0) sb += Consonants.charAt(r.nextInt(Consonants.length))
      }
      out.add(sb.toString)
    }
    out.toArray(new Array[String](0))
  }

  /** One random edit: substitute, delete, insert or transpose. */
  def typo(s: String, r: SplittableRandom): String = {
    if (s.length < 2) return s + Vowels.charAt(r.nextInt(Vowels.length))
    val i = r.nextInt(s.length - 1)
    val c = ('a' + r.nextInt(26)).toChar
    r.nextInt(4) match {
      case 0 => s.substring(0, i) + c + s.substring(i + 1)
      case 1 => s.substring(0, i) + s.substring(i + 1)
      case 2 => s.substring(0, i) + c + s.substring(i)
      case _ => s.substring(0, i) + s.charAt(i + 1) + s.charAt(i) + s.substring(i + 2)
    }
  }

  // ---------------------------------------------------------------- persons

  final case class Person(id: Long, firstName: String, surname: String,
      dob: String, city: String)

  /** Records plus the planted entity of each record (benchmark side only). */
  final case class People(records: Array[Person], entity: Array[Int])

  private lazy val firstNames = words(600, 2, 3, 11L)
  private lazy val surnames = words(3000, 2, 4, 12L)
  private lazy val cities = words(300, 2, 3, 13L).map(_.capitalize)
  private lazy val firstZipf = new Zipf(firstNames.length, 0.8)
  private lazy val surnameZipf = new Zipf(surnames.length, 1.0)
  private lazy val cityZipf = new Zipf(cities.length, 1.1)

  /** Cluster sizes 1..6, mean about 2.6. */
  private val SizeCdf = Array(0.25, 0.55, 0.75, 0.87, 0.95, 1.0)

  private final case class Entity(first: String, sur: String, dob: String,
      city: String)

  private def entity(r: SplittableRandom): Entity = {
    val f = firstNames(firstZipf.draw(r))
    val s = surnames(surnameZipf.draw(r))
    val dob = f"${1930 + r.nextInt(76)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
    Entity(f, s, dob, cities(cityZipf.draw(r)))
  }

  /** Each field independently: 12% one typo, 5% null. City moves
    * instead of mistyping (people relocate). */
  private def corrupt(e: Entity, id: Long, r: SplittableRandom): Person = {
    def field(v: String, edit: String => String): String = {
      val x = r.nextDouble()
      if (x < 0.05) null else if (x < 0.17) edit(v) else v
    }
    val t = (v: String) => typo(v, r)
    Person(id, field(e.first, t), field(e.sur, t), field(e.dob, t),
      field(e.city, _ => cities(cityZipf.draw(r))))
  }

  /** About `n` person records in planted entity clusters, shuffled, with
    * ids 0 until size. */
  def people(n: Int, seed: Long): People = {
    val r = new SplittableRandom(seed)
    val recs = Array.newBuilder[(Int, Entity)]
    var count = 0
    var ent = 0
    while (count < n) {
      val e = entity(r)
      val u = r.nextDouble()
      val k = math.min(SizeCdf.indexWhere(u <= _) + 1, n - count)
      for (_ <- 0 until k) recs += ((ent, e))
      count += k
      ent += 1
    }
    val all = recs.result()
    // Fisher-Yates so cluster members are not adjacent in the files
    for (i <- all.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
    }
    People(all.indices.map(i => corrupt(all(i)._2, i.toLong, r)).toArray,
      all.map(_._1))
  }

  /** Held-out new records for serving: `n` records, id from `firstId` up;
    * three in four are fresh corrupted copies of a corpus record's entity
    * (re-derived from that record, so the match is findable), the rest
    * are new people. */
  def heldOut(corpus: Array[Person], n: Int, firstId: Long, seed: Long): Array[Person] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    Array.tabulate(n) { i =>
      val id = firstId + i
      if (r.nextInt(4) < 3) {
        val p = corpus(r.nextInt(corpus.length))
        val e = Entity(Option(p.firstName).getOrElse(firstNames(0)),
          Option(p.surname).getOrElse(surnames(0)),
          Option(p.dob).getOrElse("1970-01-01"),
          Option(p.city).getOrElse(cities(0)))
        corrupt(e, id, r)
      } else corrupt(entity(r), id, r)
    }
  }

  // -------------------------------------------------------------- documents

  final case class Doc(id: Long, text: String)

  /** Planted structure of a generated corpus. */
  final case class Corpus(docs: Array[Doc], exactCopies: Array[(Long, Long)],
      nearDups: Array[(Long, Long)], spanDocs: Array[Long], span: String)

  private lazy val vocab = words(5000, 1, 4, 21L)
  private lazy val vocabZipf = new Zipf(vocab.length, 1.0)
  private val Stopwords = Array("the", "be", "to", "of", "and", "that",
    "have", "with", "a", "in", "is", "it")

  private def sentence(r: SplittableRandom, sb: StringBuilder): Unit = {
    val len = 8 + r.nextInt(13)
    for (j <- 0 until len) {
      if (j > 0) sb += ' '
      if (r.nextInt(4) == 0) sb ++= Stopwords(r.nextInt(Stopwords.length))
      else sb ++= vocab(vocabZipf.draw(r))
    }
    sb += '.'
  }

  private def document(r: SplittableRandom, span: String, withSpan: Boolean): String = {
    val sentences = 7 + r.nextInt(7) // >= 56 tokens: passes the 50-token rule
    val spanAt = if (withSpan) r.nextInt(sentences) else -1
    val sb = new StringBuilder
    for (s <- 0 until sentences) {
      if (s > 0) sb ++= (if (r.nextInt(5) == 0) "\n" else " ")
      if (s == spanAt) { sb ++= span; sb += ' ' }
      sentence(r, sb)
    }
    sb.toString
  }

  /** About `n` documents: 4% short (fail the quality rules), 3% exact
    * copies and 3% near-duplicates (two words replaced) of earlier
    * well-formed documents, and 5% carrying one shared 20-token span.
    * Copies always get a larger id than their original. */
  def corpus(n: Int, seed: Long): Corpus = {
    val r = new SplittableRandom(seed)
    val span = {
      val sr = new SplittableRandom(31L)
      Array.fill(20)(vocab(100 + sr.nextInt(4000))).mkString(" ")
    }
    val docs = new Array[Doc](n)
    val good = scala.collection.mutable.ArrayBuffer.empty[Int]
    val exact = Array.newBuilder[(Long, Long)]
    val near = Array.newBuilder[(Long, Long)]
    val spanDocs = Array.newBuilder[Long]
    for (i <- 0 until n) {
      val u = r.nextDouble()
      val text =
        if (good.size > 10 && u < 0.03) {
          val o = good(r.nextInt(good.size)); exact += ((o.toLong, i.toLong))
          docs(o).text
        } else if (good.size > 10 && u < 0.06) {
          val o = good(r.nextInt(good.size)); near += ((o.toLong, i.toLong))
          val toks = docs(o).text.split(" ", -1)
          for (_ <- 0 until 2) {
            val j = r.nextInt(toks.length)
            if (!toks(j).contains("\n")) toks(j) = vocab(vocabZipf.draw(r)) + "x"
          }
          toks.mkString(" ")
        } else if (u < 0.10) {
          val sb = new StringBuilder; sentence(r, sb); sb.toString
        } else {
          val withSpan = r.nextInt(20) == 0
          val t = document(r, span, withSpan)
          if (withSpan) spanDocs += i.toLong else good += i
          t
        }
      docs(i) = Doc(i.toLong, text)
    }
    Corpus(docs, exact.result(), near.result(), spanDocs.result(), span)
  }
}
