package graft

import org.scalatest.Assertions

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The in-repo document corpus (FIXTURES.md §1): a deterministic,
  * seeded stand-in for the reference's 8 Project Gutenberg texts,
  * written fresh into a temp dir so the MR parity, crash-recovery and
  * span-dedup specs need no file outside the repository.
  *
  * Shape, chosen for the contracts it serves:
  *  - 8 `pg-*.txt` files whose names differ in length, so profile's
  *    `("b", len(name))` key sees several values;
  *  - every file starts AND ends with the same [[LicenseTokens]]-token
  *    block of lowercase ASCII words, the analogue of the Gutenberg
  *    license: a cross-document duplicated span under both the
  *    `\p{L}` MR tokenizer and SuffixDedup's `[a-z]+` one;
  *  - bodies drawn from a mixed-case vocabulary that includes
  *    non-ASCII letters (`café`, `世界`, `αβ`), joined by spaces,
  *    punctuation, newlines and digits, so a byte-parity run crosses
  *    the Unicode-letter tokenizer boundary the ASCII-only Gutenberg
  *    texts never reach.
  *
  * Where the reference checkout is present, [[referenceDir]] lets the
  * specs that are about its own corpus run against it as well.
  */
object TestCorpus {

  /** Where the reference keeps its Gutenberg texts. */
  private val ReferenceDir = "/root/reference/src/main"

  private val Names: Seq[String] = Seq("pg-ash.txt", "pg-birch_grove.txt",
    "pg-cedar.txt", "pg-dogwood_and_elm.txt", "pg-fir.txt",
    "pg-hazel_hollow.txt", "pg-juniper.txt", "pg-larch_at_dusk.txt")

  /** Length of the block every file starts and ends with. */
  private val LicenseTokens = 320

  /** Bodies draw one word in this many from the non-ASCII list. */
  private val NonAsciiEvery = 25
  private val NonAscii = Vector("café", "naïve", "élève", "Straße", "世界",
    "αβ", "Ωμέγα", "señor", "Øre", "доброе")

  /** Non-letter runs between words: digits and punctuation as well as
    * whitespace (both tokenizers split on all of them). */
  private val Separators = Vector(" ", " ", " ", " ", " ", " ", ", ", ". ",
    "\n", "; ", " -- ", "'", " 1887 ", "7", "_", " (", ") ", "—")

  private def isPgText(p: Path): Boolean =
    p.getFileName.toString.matches("pg-.*\\.txt")

  /** True where the reference's dir exists and holds `pg-*.txt` files. */
  private def referencePresent: Boolean = {
    val d = Paths.get(ReferenceDir)
    Files.isDirectory(d) && {
      val s = Files.list(d)
      try s.iterator().asScala.exists(isPgText) finally s.close()
    }
  }

  /** [[ReferenceDir]] for a test about the reference's own corpus;
    * cancels the calling test (ScalaTest `assume`) where it is absent.
    * Call it inside the test, before any of the corpus is read. */
  def referenceDir(): String = {
    Assertions.assume(referencePresent,
      s"reference Gutenberg corpus ($ReferenceDir/pg-*.txt) not on this box")
    ReferenceDir
  }

  /** The glob the engine reads a corpus directory through. */
  def glob(dir: String): String = s"$dir/pg-*.txt"

  /** The `pg-*.txt` files of `dir` as (basename, contents), sorted by
    * name and decoded as UTF-8 exactly like Spark's text reader. */
  def read(dir: String): Seq[(String, String)] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(isPgText).toVector.sortBy(_.toString)
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), UTF_8))
    finally s.close()
  }

  /** The generated texts as (basename, contents): [[Names]] in order,
    * each the license block, `bodyTokens` body words, the block again. */
  private def texts(bodyTokens: Int, seed: Long = 42L): Seq[(String, String)] = {
    val vocab = asciiVocabulary(new Random(seed))
    val license = {
      val rnd = new Random(seed + 1)
      Vector.fill(LicenseTokens)(vocab(rnd.nextInt(vocab.length)))
        .grouped(12).map(_.mkString(" ")).mkString("", ".\n", ".\n")
    }
    Names.zipWithIndex.map { case (name, i) =>
      val rnd = new Random(seed * 31 + 2 + i)
      val body = new StringBuilder
      for (_ <- 0 until bodyTokens) {
        val w =
          if (rnd.nextInt(NonAsciiEvery) == 0) NonAscii(rnd.nextInt(NonAscii.length))
          else {
            // squared draw: a few frequent words and a long tail, like prose
            val r = rnd.nextDouble()
            val v = vocab((r * r * vocab.length).toInt)
            if (rnd.nextInt(8) == 0) v.capitalize else v
          }
        body ++= w ++= Separators(rnd.nextInt(Separators.length))
      }
      name -> s"$license\n$body\n$license"
    }
  }

  /** Writes [[texts]] into a fresh temp dir (removed at JVM exit) and
    * returns the dir. */
  def write(bodyTokens: Int, seed: Long = 42L): String = {
    val dir = Files.createTempDirectory("graft-corpus")
    dir.toFile.deleteOnExit()
    texts(bodyTokens, seed).foreach { case (name, text) =>
      val f = dir.resolve(name)
      Files.write(f, text.getBytes(UTF_8))
      f.toFile.deleteOnExit()
    }
    dir.toString
  }

  /** ~3000 distinct lowercase words built from consonant-vowel syllables. */
  private def asciiVocabulary(rnd: Random): Vector[String] = {
    val syllables = for (c <- "bcdfghjklmnprstvwz"; v <- "aeiou") yield s"$c$v"
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 3000)
      words += Vector.fill(1 + rnd.nextInt(4))(syllables(rnd.nextInt(syllables.length))).mkString
    words.toVector
  }
}
