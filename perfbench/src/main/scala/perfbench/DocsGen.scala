package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Seeded `documents` table in the schema of the harness testdata
  * (doc_id, text, lang, source, n_chars), with planted shares that make
  * every stage of the corpus gates do work:
  *
  *   - [[NearDupShare]] of docs are a one-word edit of an earlier doc
  *     (each original used once, so near-dup components are pairs);
  *   - [[ExactDupShare]] repeat an earlier doc's text verbatim;
  *   - [[TooShortShare]] have fewer than 5 words (word_bounds drops them);
  *   - [[ShortWordShare]] average under 2 letters a word and
  *     [[LongWordShare]] over 12 (word_len drops both);
  *   - [[SmallSources]] sources hold 1-2 docs, below `srcMinDocs` = 3, and
  *     [[NoisySources]] sources hold half the short-word docs plus 0.5% of
  *     the plain ones, so fewer than 2/3 of their docs pass word_len and
  *     the source_rate stage drops their survivors.
  *
  * Docs 0-29 are always plain docs: the gates plant replays of ids
  * below 24 and expect them to pass the cascade.
  */
object DocsGen {
  val NearDupShare = 0.05
  val ExactDupShare = 0.02
  val TooShortShare = 0.03
  val ShortWordShare = 0.02
  val LongWordShare = 0.01
  val Sources = 150
  val SmallSources = 30
  val NoisySources = 4

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  private val Syllables = Seq("ka", "lo", "mi", "ste", "ra", "pen", "dor", "vi", "tu",
    "shan", "el", "qua", "rix", "mo", "ber", "fen", "ga", "lin", "tro", "su")

  /** 3000 lower-case words, so every token passes the `[a-z]{3,}` filter. */
  private val Vocab: Array[String] = {
    val r = new SplittableRandom(42L)
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < 3000) {
      val n = 2 + r.nextInt(3)
      out += (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    out.toArray
  }

  private def zipfWord(r: SplittableRandom): String = {
    // squaring a uniform skews towards the head of the vocabulary
    val u = r.nextDouble()
    Vocab((u * u * Vocab.length).toInt)
  }

  private def plainText(r: SplittableRandom): String = {
    val n = 8 + (-math.log(1 - r.nextDouble()) * 50).toInt.min(300)
    Iterator.fill(n)(zipfWord(r)).mkString(" ")
  }

  def generate(seed: Long, n: Int): Seq[Doc] = {
    val r = new SplittableRandom(HospitalGen.mix(seed, 5150L))
    val texts = new Array[String](n)
    val usedAsOriginal = mutable.HashSet.empty[Int]
    val plain = mutable.ArrayBuffer.empty[Int]
    val noisySrc = (0 until NoisySources).map(i => s"noisy$i")
    (0 until n).map { i =>
      val u = r.nextDouble()
      var source = s"src${(r.nextDouble() * r.nextDouble() * Sources).toInt}"
      val text =
        if (i < 30) plainText(r)
        else if (u < NearDupShare && plain.nonEmpty) {
          var o = plain(r.nextInt(plain.length))
          var tries = 0
          while (usedAsOriginal(o) && tries < 8) { o = plain(r.nextInt(plain.length)); tries += 1 }
          usedAsOriginal += o
          val words = texts(o).split(' ')
          words(r.nextInt(words.length)) = zipfWord(r)
          words.mkString(" ")
        } else if (u < NearDupShare + ExactDupShare && plain.nonEmpty) texts(plain(r.nextInt(plain.length)))
        else if (u < NearDupShare + ExactDupShare + TooShortShare)
          Iterator.fill(1 + r.nextInt(4))(zipfWord(r)).mkString(" ")
        else if (u < NearDupShare + ExactDupShare + TooShortShare + ShortWordShare) {
          if (r.nextInt(2) == 0) source = noisySrc(r.nextInt(NoisySources))
          Iterator.fill(6 + r.nextInt(40))(('a' + r.nextInt(26)).toChar.toString).mkString(" ")
        } else if (u < NearDupShare + ExactDupShare + TooShortShare + ShortWordShare + LongWordShare)
          Iterator.fill(6 + r.nextInt(20))(Iterator.fill(4)(zipfWord(r)).mkString).mkString(" ")
        else {
          plain += i
          if (r.nextInt(200) == 0) source = noisySrc(r.nextInt(NoisySources))
          plainText(r)
        }
      if (i < 30) plain += i
      texts(i) = text
      if (i >= 30 && i % 97 == 0 && i / 97 < 2 * SmallSources)
        source = s"tiny${(i / 97) % SmallSources}"
      val lang = r.nextInt(20) match { case 0 => "de"; case 1 => "fr"; case 2 => "zh"; case _ => "en" }
      Doc(i.toLong, text, lang, source)
    }
  }

  /** Writes the table as `<dir>/documents.parquet` and returns its row count. */
  def write(spark: SparkSession, seed: Long, n: Int, dir: String): Long = {
    import spark.implicits._
    val docs = generate(seed, n)
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs.length.toLong
  }
}
