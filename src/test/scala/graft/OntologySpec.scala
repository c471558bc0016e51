package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ontology

class OntologySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("transitive closure finds all ancestor paths with depths") {
    val edges = Seq(("leaf1", "mid"), ("leaf2", "mid"), ("mid", "root"))
    val out = Ontology.transitiveClosure(edges.toDF("child", "parent")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sorted
    assert(out.toSet == Set(
      ("leaf1", "mid", 1), ("leaf2", "mid", 1), ("mid", "root", 1),
      ("leaf1", "root", 2), ("leaf2", "root", 2)))
    assert(Ontology.closurePaths(edges).sorted == out, "driver closure drifted")
  }

  test("descendantsOf returns the subclass tree of a root") {
    val edges = Seq(("a", "stim"), ("b", "stim"), ("c", "a"), ("x", "other"))
    val out = Ontology.descendantsOf(edges.toDF("child", "parent"), "stim").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(out.toSet == Set(("a", 1), ("b", 1), ("c", 2)))
    assert(Ontology.localDescendantsOf(edges, "stim").sorted == out, "driver closure drifted")
  }

  test("driver closure keeps UNION ALL multiplicity and the depth bound on a DAG") {
    // d reaches top two ways; a cycle is cut at maxDepth like the lazy plan
    val edges = Seq(("d", "b"), ("d", "c"), ("b", "top"), ("c", "top"), ("x", "y"), ("y", "x"))
    Seq(3, 10).foreach { depth =>
      val lazyRows = Ontology.transitiveClosure(edges.toDF("child", "parent"), depth).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sorted
      assert(Ontology.closurePaths(edges, depth).sorted == lazyRows, s"maxDepth $depth")
    }
  }

  test("vec_dot is available via SQL through GraftExtensions-style registration") {
    graft.functions.VectorExpressions.registerSql(spark)
    val r = spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect()
    assert(r.head.getDouble(0) == 11.0)
    val n = spark.sql("SELECT vec_norm_sq(array(3.0d, 4.0d)) AS n").collect()
    assert(n.head.getDouble(0) == 25.0)
    // the integer siblings: exact int64 dot/norm over array<bigint>
    val ld = spark.sql("SELECT lvec_dot(array(1L, 2L), array(3L, 4L)) AS d").collect()
    assert(ld.head.getLong(0) == 11L)
    val ln = spark.sql("SELECT lvec_norm_sq(array(3L, 4L)) AS n").collect()
    assert(ln.head.getLong(0) == 25L)
  }

  test("log2mb is available via SQL registration") {
    graft.functions.LogExpressions.registerSql(spark)
    val r = spark.sql(
      "SELECT log2mb(1L, 1024L) AS a, log2mb(7L, 7L) AS b, log2mb(3L, 7L) AS c")
      .collect().head
    assert(r.getLong(0) == 10L * 1024 && r.getLong(1) == 0L)
    // floor semantics: log2(7/3) ≈ 1.2224 bits → 1251.xx mb, floored
    val truth = math.log(7.0 / 3) / math.log(2.0) * 1024.0
    assert(r.getLong(2) <= truth && r.getLong(2) >= truth - 2.0)
  }

  test("hash-sketch expressions are available via SQL registration") {
    graft.functions.HashExpressions.registerSql(spark)
    // simhash of one token hash = that hash's set bits
    val s = spark.sql("SELECT simhash64(array(5L)) AS s").collect()
    assert(s.head.getLong(0) == 5L)
    // shingle hashes: 3 tokens, k=2 → 2 shingles, each a 60-bit value
    val sh = spark.sql(
      "SELECT md5_shingle_hashes(array('a','b','c'), 2) AS sh").collect()
      .head.getSeq[Long](0)
    assert(sh.length == 2 && sh.forall(h => h >= 0 && h < (1L << 60)))
    // minhash over those shingles: 4 permuted minima below the modulus
    val mh = spark.sql(
      "SELECT affine_minhash(md5_shingle_hashes(array('a','b','c'), 2), 4) AS mh").collect()
      .head.getSeq[Long](0)
    assert(mh.length == 4 && mh.forall(v => v >= 0 && v < graft.operators.Dedup.Mersenne61))
    // saturated hashed counts: 3 copies of one token land in one
    // bucket; the clamp caps the count; non-literal params rejected
    val bc = spark.sql(
      "SELECT bucket_count_vec(array('x','x','x','y'), 'ret:', 8, 2) AS v").collect()
      .head.getSeq[Long](0)
    // 3 x's clamp to 2; y adds 1 (to its own bucket, or to x's if the
    // two hashes collide mod 8 — then the shared bucket stays clamped)
    assert(bc.length == 8 && bc.max == 2L && (bc.sum == 3L || bc.sum == 2L),
      s"clamped counts expected, got $bc")
  }
}
