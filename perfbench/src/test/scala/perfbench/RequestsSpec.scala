package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RequestsSpec extends AnyFunSuite {

  private val keys = for {
    v <- 0 until 4; b <- 0 until 10; k <- 0 until 50
  } yield (s"vol$v", s"bucket$b", f"warehouse/A/$k%04d/1.dat")

  private val links = Map(("vol1", "link-a") -> ("vol0", "bucket0"),
    ("vol2", "link-b") -> ("vol0", "bucket0"),
    ("vol3", "link-empty") -> ("vol9", "bucket0"))

  test("a seed always produces the same request stream") {
    val a = Requests.rpcPass(7L, keys, links, 6)
    assert(a == Requests.rpcPass(7L, keys, links, 6))
    assert(a == Requests.rpcPass(7L, scala.util.Random.shuffle(keys), links, 6),
      "the stream must not depend on the order the namespace was listed in")
    assert(a != Requests.rpcPass(8L, keys, links, 6))
    assert(Requests.linkChecks(7L, keys, links) == Requests.linkChecks(7L, keys, links))
  }

  test("every pass holds perKind requests of each kind, on existing keys") {
    val reqs = Requests.rpcPass(3L, keys, links, 5)
    assert(reqs.groupBy(_.kind).view.mapValues(_.size).toMap ==
      Requests.RpcKinds.map(_ -> 5).toMap)
    val byBucket = keys.groupMap(k => (k._1, k._2))(_._3).view.mapValues(_.toSet).toMap
    reqs.foreach { r =>
      val target = links.getOrElse((r.volume, r.bucket), (r.volume, r.bucket))
      assert(byBucket(target).contains(r.key), r)
    }
  }

  test("buckets are skewed, and links are ranked like any bucket") {
    val reqs = Requests.rpcPass(1L, keys, links, 200)
    val perBucket = reqs.groupBy(r => (r.volume, r.bucket)).view.mapValues(_.size).toMap
    val counts = perBucket.values.toSeq.sorted
    assert(counts.last > 10 * Stats.median(counts.map(_.toDouble)), s"no skew: $counts")
    assert(!perBucket.contains(("vol3", "link-empty")), "a link to no keys is never a target")
    // over many seeds, each usable link takes the hottest rank about as
    // often as any one of the 42 targets does
    val hottest = (1L to 420L).map { seed =>
      Requests.rpcPass(seed, keys, links, 20)
        .groupBy(r => (r.volume, r.bucket)).maxBy(_._2.size)._1
    }
    val linkTop = hottest.count(b => links.contains(b))
    assert(linkTop > 5 && linkTop < 60, s"links hottest in $linkTop of 420 seeds")
  }

  test("link checks send every kind to every usable link") {
    val checks = Requests.linkChecks(4L, keys, links)
    assert(checks.size == 2 * Requests.RpcKinds.size)
    assert(checks.map(r => (r.volume, r.bucket)).toSet ==
      Set(("vol1", "link-a"), ("vol2", "link-b")))
    assert(checks.forall(r => keys.contains(("vol0", "bucket0", r.key))))
  }

  test("delta rows are distinct, seeded and differ per pass") {
    val d = Requests.deltaRows(5L, 1, 10000, 1000)
    assert(d.distinct.size == 1000 && d.forall(i => i >= 0 && i < 10000))
    assert(d == Requests.deltaRows(5L, 1, 10000, 1000))
    assert(d != Requests.deltaRows(5L, 2, 10000, 1000))
    assert(Requests.order(5L, 1, 1 to 30) == Requests.order(5L, 1, 1 to 30))
  }
}
