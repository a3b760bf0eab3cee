package perfbench

import scala.util.Random

/** Seeded serving traffic for `retrieval_serve`: which endpoint each call
  * hits, with which batch size, carrying which probes, and the write
  * operations interleaved with the reads. Pure, so a test can pin it. */
object RetrievalGen {

  val Endpoints: IndexedSeq[String] = IndexedSeq(
    "domain.LexLake.serve", "domain.LexLake.serve_impact", "domain.LexLake.prfServe",
    "domain.LexLake.phraseServeBatch", "domain.LexLake.proximityServeBatch",
    "domain.LexLake.passageServeBatch", "domain.VectorLake.searchBatch",
    "domain.VectorLake.searchBatch_sq8", "domain.VectorLake.searchBatch_sq8_refine",
    "domain.Retrieval.hybridServeAt")
  val BatchSizes: IndexedSeq[Int] = IndexedSeq(1, 16, 256)

  sealed trait Call
  final case class Serve(endpoint: String, batch: Int) extends Call
  case object Upsert extends Call
  case object Delete extends Call

  /** `cycles` rounds; each holds every endpoint at every batch size once plus
    * one upsert and one delete (about one call in sixteen is a write), in a
    * seeded order. Whole rounds keep the endpoint mix the same on every run. */
  def schedule(seed: Long, cycles: Int): Seq[Call] = {
    val r = new Random(seed)
    (1 to cycles).flatMap { _ =>
      r.shuffle(Endpoints.flatMap(e => BatchSizes.map(b => Serve(e, b): Call)) ++
        Seq(Upsert, Delete))
    }
  }

  /** A term probe: one to three terms drawn Zipf by corpus frequency rank,
    * so head terms (those the impact tier caps) recur. */
  def terms(r: Random, zipf: TestData.Zipf, vocab: IndexedSeq[String]): Seq[String] =
    Seq.fill(1 + r.nextInt(3))(vocab(zipf.sample(r))).distinct

  /** A phrase probe: two consecutive words of a resident document. */
  def phrase(r: Random, text: String): Seq[String] = {
    val w = text.split(" ")
    if (w.length < 2) w.toSeq
    else { val i = r.nextInt(w.length - 1); Seq(w(i), w(i + 1)) }
  }

  /** An embedding probe: a resident vector with seeded jitter. */
  def jitter(r: Random, v: Array[Float]): Array[Float] =
    v.map(x => (x + r.nextGaussian() * 0.02).toFloat)

  /** The new embedding of an edit: a fresh random direction, so the vector
    * lake's near-duplicate gate admits it. */
  def freshVector(r: Random): Array[Float] =
    Array.fill(TestData.dim)((r.nextGaussian() * 0.1).toFloat)

  /** The new text of an edit: resident words plus a term no other document
    * carries, so a serve on that term must return exactly the edited id. */
  def editText(r: Random, seed: Long, n: Int): (String, String) = {
    val unique = s"edit${math.abs(seed)}x$n"
    val words = Seq.fill(8 + r.nextInt(20))(TestData.vocab(r.nextInt(TestData.vocab.size)))
    (unique, (words :+ unique).mkString(" "))
  }
}
