package perfbench

import java.util.SplittableRandom

import graft.fixtures.Fixtures
import graft.model.{CodeFile, GoldRow}

/** Seeded inputs. The same seed always yields the same inputs. */
object Inputs {

  def mix(x: Long): Long = {
    var z = x * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Fixture rows over an index window derived from the seed. The window
    * starts on a multiple of 100 and `n` is a multiple of 100, so the
    * fixture class mix (a function of index mod 100) is exact.
    */
  def fixtureWindow(seed: Long, n: Int): Vector[(CodeFile, GoldRow)] = {
    require(n % 100 == 0, s"fixture window of $n rows is not a multiple of 100")
    val start = java.lang.Math.floorMod(mix(seed), 10000000L) * 100L
    Vector.tabulate(n)(i => Fixtures.genRow(start + i))
  }

  /** One daily shard of the store workload, with the fate of every doc
    * known by construction.
    */
  final case class Shard(docs: Vector[(Long, String)], fresh: Set[Long],
      intraCopies: Int, storeCopies: Int, nearVariants: Int)

  /** Random-vocabulary docs (100 to 199 words of 4 to 9 letters). Each
    * shard holds fresh docs, exact copies of some of its own fresh docs,
    * and, from the second shard on, exact copies and near-variants (one
    * appended marker word, Jaccard ≈ 0.99) of earlier shards' fresh docs.
    * Fresh docs share almost nothing, so exactly the fresh docs survive.
    * Copies get larger ids than their originals, so the exact-dedup
    * keeper (the smallest id) is always the original.
    */
  def storeShards(seed: Long, nShards: Int, freshPerShard: Int): Vector[Shard] = {
    val vocabRng = new SplittableRandom(mix(seed ^ 0x5eedL))
    val vocab = Vector.fill(5000) {
      val len = 4 + vocabRng.nextInt(6)
      String.valueOf(Array.fill(len)(('a' + vocabRng.nextInt(26)).toChar))
    }
    def text(id: Long): String = {
      val r = new SplittableRandom(mix(seed * 31 + id))
      Vector.fill(100 + r.nextInt(100))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    // id block per shard: fresh, own copies, then copies and variants of
    // at most every earlier fresh doc
    val stride = (2L + 2L * nShards) * freshPerShard
    (0 until nShards).foldLeft(Vector.empty[Shard]) { (done, d) =>
      val base = 1000000L + d * stride
      val fresh = Vector.tabulate(freshPerShard)(j => (base + j, text(base + j)))
      val intra = fresh.indices.filter(_ % 10 == 3)
        .map(j => (base + freshPerShard + j, fresh(j)._2))
      val earlier = done.flatMap(s => s.docs.filter(d => s.fresh(d._1)))
      val storeCopies = earlier.indices.filter(_ % 20 == 7)
        .map(j => (base + 2L * freshPerShard + j, earlier(j)._2))
      val near = earlier.indices.filter(_ % 10 == 5)
        .map(j => (base + 2L * freshPerShard + earlier.length + j,
          earlier(j)._2 + " zq" + earlier(j)._1))
      val docs = new scala.util.Random(mix(seed + d)).shuffle(fresh ++ intra ++ storeCopies ++ near)
      done :+ Shard(docs, fresh.map(_._1).toSet, intra.length, storeCopies.length, near.length)
    }
  }
}
