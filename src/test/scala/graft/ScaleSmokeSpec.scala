package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScaleSmoke's replication self-check: a pin holds only at the copy
  * counts whose arithmetic derives it.
  */
class ScaleSmokeSpec extends AnyFunSuite {

  test("expectRows pins the cluster legs only from 2 copies up") {
    // at 1 copy q52 returns the near-dup-clustered docs only, and the
    // q107/q112 saturation arguments need a second verbatim copy
    val one = ScaleSmoke.expectRows(1)
    Seq("q52_dup_clusters", "q107_chunk_dedup", "q112_cluster_keepers")
      .foreach(q => assert(!one.contains(q), q))
    // from 2 copies every doc has a verbatim twin, so every doc clusters
    assert(ScaleSmoke.expectRows(2).get("q52_dup_clusters") === Some(10000L))
    assert(ScaleSmoke.expectRows(1).get("q22_minhash_signatures") === Some(5000L))
  }
}
