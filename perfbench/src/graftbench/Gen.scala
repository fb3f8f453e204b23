package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Seeded input generator for the `pipelines` workload, with the exact
  * answers each pipeline must produce on it.
  *
  * Everything is a pure function of the seed (`SplittableRandom`), so
  * the same seed gives byte-identical CSV text and document text.
  */
object Gen {

  // ---- users drop (the five ETL eras) ----------------------------------

  /** A users drop: CSV text per file (header included) plus the counts
    * the eras must report. `distinctValid` counts distinct (name, email)
    * among valid rows, which is what the 2022 era keeps after dedup.
    */
  final case class Users(files: IndexedSeq[String], total: Long, valid: Long,
                         distinctValid: Long)

  def users(seed: Long, rows: Int, nFiles: Int): Users = {
    val r = new java.util.SplittableRandom(seed)
    val files = Array.fill(nFiles)(new StringBuilder("name,age,email\n"))
    val validRows = scala.collection.mutable.ArrayBuffer.empty[String]
    var valid = 0L
    var i = 0
    while (i < rows) {
      val roll = r.nextInt(100)
      val line =
        if (roll < 8 && validRows.nonEmpty) {
          // planted duplicate: an exact copy of an earlier valid row
          valid += 1
          validRows(r.nextInt(validRows.size))
        } else if (roll < 12) {
          // planted invalid name: missing or blank
          (if (r.nextBoolean()) "" else "   ") + s",${r.nextInt(90)},u$i@example.com"
        } else if (roll < 17) {
          val age = BadAges(r.nextInt(BadAges.length))
          s"${name(r)},$age,u$i@example.com"
        } else if (roll < 21) {
          s"${name(r)},${r.nextInt(90)},u$i.example.com"
        } else {
          valid += 1
          val l = s"${name(r)},${r.nextInt(100)},u$i@example.com"
          validRows += l
          l
        }
      files(i % nFiles).append(line).append('\n')
      i += 1
    }
    Users(files.map(_.toString).toIndexedSeq, rows.toLong, valid, validRows.size.toLong)
  }

  private val BadAges = Array("abc", "-3", "151", "")

  private val first = Array("ana", "bo", "carl", "dina", "eve", "finn", "gus",
    "hana", "ivo", "jo", "kai", "lena", "max", "nora", "otto", "pia")

  private def name(r: java.util.SplittableRandom): String =
    first(r.nextInt(first.length)) + " " + letters(r, 6)

  private def letters(r: java.util.SplittableRandom, n: Int): String = {
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = ('a' + r.nextInt(26)).toChar; i += 1 }
    new String(c)
  }

  // ---- document corpus (curationOver) ----------------------------------

  final case class Doc(id: Long, text: String, source: String)

  /** The counts `Pipelines.CurationRun` must report on a corpus. */
  final case class Stages(input: Long, afterExactDedup: Long,
                          afterNearDedup: Long, afterDecontamination: Long,
                          afterQuality: Long, trainDocs: Long, bins: Long)

  final case class Corpus(docs: IndexedSeq[Doc], expected: Stages)

  /** A corpus whose stage outcomes are fixed by construction.
    *
    * Base documents alternate a common word with a document-unique
    * token, so every word 3-gram holds a unique token and two unrelated
    * documents never share a shingle. Planted on top:
    *  - exact duplicates (same text plus leading/trailing spaces),
    *  - near duplicates (one or two unique tokens replaced),
    *  - eval overlap (a fresh document quoting a 6-token span of a
    *    held-out document),
    *  - low-quality documents (a repeated two-token loop, or fewer
    *    than ten tokens).
    * The expected counts follow `Pipelines.curationOver`'s stage rules:
    * exact dedup keeps the min id per normalized text; near dedup keeps
    * the min id per duplicate family; decontamination drops train-side
    * documents sharing a 3-gram with a held-out one (md5 nibble ≥ 'e');
    * the quality gate drops the low-quality plants; the train split
    * keeps nibble < 'c'; packing bins each source's token stream by
    * `budget`.
    */
  def corpus(seed: Long, nBase: Int, budget: Long = 256L): Corpus = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val sources = Array("web", "books", "code", "news")
    val words = Array.fill(300)(letters(r, 3 + r.nextInt(4)))
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    // family(i): the base document a copy descends from (itself for a base)
    val family = scala.collection.mutable.ArrayBuffer.empty[Int]
    val lowQuality = scala.collection.mutable.Set.empty[Int]
    def add(text: String, fam: Int): Int = {
      val id = docs.size
      docs += Doc(id.toLong, text, sources(r.nextInt(sources.length)))
      family += (if (fam < 0) id else fam)
      id
    }
    def tokens(owner: Int, n: Int): Array[String] =
      Array.tabulate(n)(k => if (k % 2 == 0) words(r.nextInt(words.length)) else unique(owner, k))
    val baseTokens = (0 until nBase).map { i =>
      val t = tokens(i, 30 + r.nextInt(31))
      add(t.mkString(" "), -1)
      t
    }
    val evalBases = (0 until nBase).filter(i => isEval(i.toLong)).toArray
    val quoted = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    // eval-overlap document -> the held-out base document it quotes
    val quotes = scala.collection.mutable.Map.empty[Int, Int]
    (0 until nBase).foreach { i =>
      val text = docs(i).text
      val roll = r.nextInt(100)
      if (roll < 8) {
        (1 to 1 + r.nextInt(2)).foreach { c =>
          add(if (c == 1) " " + text else text + "  ", i)
        }
      } else if (roll < 16) {
        val t = baseTokens(i).clone()
        val owner = docs.size
        (1 to 1 + r.nextInt(2)).foreach { e =>
          val k = 1 + 2 * r.nextInt(t.length / 2)
          t(k) = unique(owner, e)
        }
        add(t.mkString(" "), i)
      }
    }
    (0 until nBase / 25).foreach { _ =>
      if (evalBases.nonEmpty) {
        val e = evalBases(r.nextInt(evalBases.length))
        // cap quotes per source so every shared shingle stays under the
        // operators' document-frequency cutoff (20)
        if (quoted(e) < 4) {
          quoted(e) += 1
          val src = baseTokens(e)
          val at = r.nextInt(src.length - 6)
          val owner = docs.size
          val own = tokens(owner, 30)
          quotes(add((own.take(15) ++ src.slice(at, at + 6) ++ own.drop(15))
            .mkString(" "), -1)) = e
        }
      }
    }
    (0 until nBase / 25).foreach { j =>
      val owner = docs.size
      val text =
        if (j % 2 == 0) Seq.fill(10)(s"${unique(owner, 1)} ${unique(owner, 3)}").mkString(" ")
        else tokens(owner, 6).mkString(" ")
      lowQuality += add(text, -1)
    }
    Corpus(docs.toIndexedSeq, stages(docs.toIndexedSeq, family.toIndexedSeq,
      lowQuality.toSet, quotes.toMap, budget))
  }

  private def stages(docs: IndexedSeq[Doc], family: IndexedSeq[Int],
                     lowQuality: Set[Int], quotes: Map[Int, Int],
                     budget: Long): Stages = {
    val n = docs.size
    // exact dedup: min id per normalized (trim + lower) text
    val byText = docs.indices.groupBy(i => docs(i).text.trim.toLowerCase)
    val d1 = byText.values.map(_.min).toSet
    // near dedup: every family member but the base (its min id) drops
    val d2 = d1.filter(i => family(i) == i)
    // decontamination: a train-side doc sharing a 3-gram with an eval doc
    val members = docs.indices.groupBy(family)
    val familyHasEval = members.map { case (f, ms) => f -> ms.exists(m => isEval(m.toLong)) }
    // (a quoted base is always held out, so its whole family already
    // counts as having an eval member)
    def contaminated(i: Int): Boolean = !isEval(i.toLong) && (
      (members(family(i)).size > 1 && familyHasEval(family(i))) ||
        quotes.get(i).exists(familyHasEval))
    val d3 = d2.filterNot(contaminated)
    val d4 = d3.filterNot(lowQuality)
    val train = d4.filter(i => nibble(i.toLong) < 'c').toSeq.sorted
    val bins = train.groupBy(i => docs(i).source).values.map { ids =>
      var cum = 0L
      ids.map { i =>
        val t = docs(i).text.trim.split("\\s+").length.toLong
        val b = Math.floorDiv(cum, budget)
        cum += t
        b
      }.toSet.size.toLong
    }.sum
    Stages(n.toLong, d1.size.toLong, d2.size.toLong, d3.size.toLong,
      d4.size.toLong, train.size.toLong, bins)
  }

  /** A token no other document contains: `q` + base-26 owner + slot. */
  private def unique(owner: Int, slot: Int): String = {
    val sb = new StringBuilder("q")
    var x = owner
    (0 until 4).foreach { _ => sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.append(('a' + slot % 26).toChar).append(('a' + slot / 26 % 26).toChar)
    sb.toString
  }

  /** First hex digit of md5(doc id as decimal text): `Sampling.hexNibble`. */
  def nibble(id: Long): Char = {
    val h = MessageDigest.getInstance("MD5").digest(id.toString.getBytes(UTF_8))
    Character.forDigit((h(0) >> 4) & 0xf, 16)
  }

  def isEval(id: Long): Boolean = nibble(id) >= 'e'
}
