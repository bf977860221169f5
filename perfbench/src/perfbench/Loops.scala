package perfbench

import scala.collection.mutable.ArrayBuffer

/** What one measured loop did: operations attempted (every call the loop
  * makes into the program), items completed (images or reads), and the
  * latency samples the end-to-end metrics come from. */
final case class LoopResult(attempted: Int, items: Int, opMs: Seq[Double],
    retrieveMs: Seq[Double])

/** The closed loops, one client each. */
object Loops {
  /** lake_cycle cadence: a J1 right after every image commit; a model
    * publication plus a state flip of the images since the last one after
    * every 4th, so a 5-image run also times an image and a J1 right after
    * a flip. */
  val PublishEvery = 4

  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

  def lakeCycle(lake: Lake, run: Main.Run, ks: Range, deadline: Long): LoopResult = {
    val op, ret = ArrayBuffer.empty[Double]
    val recent = ArrayBuffer.empty[Long]
    var attempted = 0
    var done = 0
    for (k <- ks if System.nanoTime() < deadline) {
      val img = run.items(k).head
      val t0 = System.nanoTime()
      recent ++= lake.tr("op.image", img.name) {
        lake.ingest(run.items(k), run.itemGlob(k), s"img=$k", 2, img.name)
      }
      op += ms(t0)
      val t1 = System.nanoTime()
      lake.tr("op.retrieve", s"j1-$k") { lake.j1(img.indice, s"j1-$k") }
      ret += ms(t1)
      attempted += 2
      if (k % PublishEvery == PublishEvery - 1) {
        lake.tr("op.publish", s"pub-$k") {
          lake.publish(Main.publicationParcels(run, k), run.artifactGlob(k), s"pub=$k", s"pub-$k")
          lake.flip(recent.toSeq, s"pub-$k")
        }
        recent.clear()
        attempted += 2
      }
      done += 1
    }
    LoopResult(attempted, done, op.toSeq, ret.toSeq)
  }

  /** ingest_batch: each batch is one bulk commit (the timed item, file
    * read to acknowledged commit, as in lake_cycle), then one publication
    * and one state flip (every third new ID), then a burst of reads against
    * the new txn (the first pays the cold per-txn caches, the rest hit
    * them). */
  def ingestBatch(lake: Lake, run: Main.Run, ks: Range, deadline: Long): LoopResult = {
    val rnd = new java.util.SplittableRandom(run.seed * 13 + 5)
    val op, ret = ArrayBuffer.empty[Double]
    var attempted = 0
    var images = 0
    for (b <- ks if System.nanoTime() < deadline) {
      val imgs = run.items(b)
      val t0 = System.nanoTime()
      val ids = lake.tr("op.batch", s"b$b") {
        lake.ingest(imgs, run.itemGlob(b), s"b=$b", 2, s"b$b")
      }
      op += ms(t0)
      lake.tr("op.publish", s"b$b") {
        lake.publish(Main.publicationParcels(run, b), run.artifactGlob(b), s"pub=$b", s"b$b")
        lake.flip(ids.filter(_ % 3 == 0), s"b$b")
      }
      attempted += 3
      images += imgs.size
      val (n, j1) = readBurst(lake, rnd, s"b$b")
      attempted += n
      ret ++= j1
    }
    LoopResult(attempted, images, op.toSeq, ret.toSeq)
  }

  val BurstReads = 10

  /** A fixed rotation of J1 retrievals (4 in 10), 20-ID `readWhereIn`
    * fetches (3 in 10) and INDICE point lookups through `GraftLake.table`
    * (3 in 10). The third J1 and the second lookup of every burst ask for
    * the unclassifiable sentinel (high selectivity), the others for a
    * seeded parcel's INDICE (low selectivity): a fixed mix, so the J1
    * median compares like with like across seeds. Returns the reads made
    * and the J1 latencies. */
  def readBurst(lake: Lake, rnd: java.util.SplittableRandom, tag: String): (Int, Seq[Double]) = {
    val ids = lake.model.cat.keys.toIndexedSeq.sorted
    val parcelIndices = lake.model.cat.values.map(_.indice).filter(_ != Gen.Sentinel)
      .toIndexedSeq.distinct.sorted
    def indice(sentinel: Boolean) =
      if (sentinel) Gen.Sentinel else parcelIndices(rnd.nextInt(parcelIndices.size))
    val j1 = ArrayBuffer.empty[Double]
    for (k <- 0 until BurstReads) {
      val req = s"$tag-read-$k"
      val t0 = System.nanoTime()
      k match {
        case 0 | 3 | 6 | 9 =>
          val ind = indice(k == 6)
          lake.tr("op.retrieve", req) { lake.j1(ind, req) }
          j1 += ms(t0)
        case 1 | 4 | 7 =>
          val pick = Seq.fill(20)(ids(rnd.nextInt(ids.size))).distinct
          lake.tr("op.fetch", req) { lake.fetchIds(pick, req) }
        case _ =>
          val ind = indice(k == 5)
          lake.tr("op.lookup", req) { lake.lookup(ind, req) }
      }
    }
    (BurstReads, j1.toSeq)
  }
}
