package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Traces
import graft.operators.Traces._

/** Byte-level spec for the q80 trace-signal kernel: hand-built sweep
  * containers (independent of the fixture), classifier edge cases,
  * corrupt-payload contracts, and the fixture-vs-closed-form sweep the
  * DuckDB oracle relies on. */
class TracesSpec extends AnyFunSuite {

  test("decode on a hand-built container: channels, aggregates, verdicts") {
    // two sweeps of 4 samples at 2000 Hz: a correct 'step' and a 'ramp'
    // mislabeled as 'flat'
    val step = (Array[Short](0, 0, 7, 7), Array[Short](1, 1, 15, 15))
    val ramp = (Array[Short](0, 1, 2, 3), Array[Short](5, 7, 9, 11))
    val bytes = encodeTrace(2000, 500, Seq("step", "flat"), Seq(step, ramp))
    val got = decodeTrace(TraceRow(42L, bytes))
    assert(got.map(_.computed) == Seq("step", "ramp"),
      "the classifier works from the SAMPLES, not the declared labels")
    assert(got.map(_.is_match) == Seq(true, false))
    assert(got.map(_.rate_hz) == Seq(2000L, 2000L))
    assert(got.map(_.sum_stim) == Seq(14L, 6L))
    assert(got.map(_.sum_resp) == Seq(32L, 32L))
    assert(got.map(_.peak_resp) == Seq(15L, 11L))
  }

  test("classifier: flat/step/ramp and the 'other' fallback") {
    assert(classify(Array[Short](3, 3, 3, 3)) == "flat")
    assert(classify(Array[Short](0, 0, 9, 9)) == "step")
    assert(classify(Array[Short](2, 4, 6, 8)) == "ramp")
    assert(classify(Array[Short](5, 3, 1, 0)) == "other", "decreasing is no known stimulus")
    assert(classify(Array[Short](0, 4, 0, 4)) == "other")
    assert(classify(Array[Short](0, -3, -3, -3)) == "other", "a downward jump is not a step")
  }

  test("corrupt payloads fail loud with the IllegalArgumentException contract") {
    val good = synthTrace(9L)
    intercept[IllegalArgumentException] { // truncated samples
      decodeTrace(TraceRow(1L, good.dropRight(3)))
    }
    intercept[IllegalArgumentException] { // wrong magic
      decodeTrace(TraceRow(1L, "XYZ 1 4 1000 500 flat\n".getBytes("US-ASCII") ++ new Array[Byte](16)))
    }
    intercept[IllegalArgumentException] { // missing header fields
      decodeTrace(TraceRow(1L, "TRC 1 4\n".getBytes("US-ASCII")))
    }
    intercept[IllegalArgumentException] { // non-numeric geometry
      decodeTrace(TraceRow(1L, "TRC one 4 1000 500 flat\n".getBytes("US-ASCII")))
    }
    intercept[IllegalArgumentException] { // label count != sweep count
      decodeTrace(TraceRow(1L, "TRC 2 2 1000 500 flat\n".getBytes("US-ASCII") ++ new Array[Byte](16)))
    }
    intercept[IllegalArgumentException] { // no header line at all
      decodeTrace(TraceRow(1L, Array[Byte](1, 2, 3)))
    }
    intercept[IllegalArgumentException] { // sweeps*n*4 wraps Long to 4
      decodeTrace(TraceRow(1L,
        "TRC 1 4611686018427387905 1000 500 flat\n".getBytes("US-ASCII")
          ++ new Array[Byte](4)))
    }
    intercept[IllegalArgumentException] { // non-positive conversion
      decodeTrace(TraceRow(1L, "TRC 1 4 1000 0 flat\n".getBytes("US-ASCII")
        ++ new Array[Byte](16)))
    }
  }

  test("fixture sweep: decode(synthTrace(id)) matches the oracle's closed form") {
    val rnd = new scala.util.Random(17)
    val ids = Seq(0L, 1L, 13L, 26L) ++ Seq.fill(60)(math.abs(rnd.nextLong()) % 100000L)
    ids.foreach { id =>
      val got = decodeTrace(TraceRow(id, synthTrace(id)))
      val sweeps = 2 + id % 3; val n = 16 + (id % 8) * 2
      val amp = 10 + id % 20; val off = id % 5
      assert(got.length == sweeps, s"id=$id")
      got.zipWithIndex.foreach { case (r, s) =>
        val typ = ((id + s) % 3).toInt
        val mislabeled = (id * 7 + s) % 13 == 0
        val sumStim = typ match {
          case 0 => 0L
          case 1 => amp * (n / 2)
          case _ => n * (n - 1) / 2
        }
        val peakResp = typ match {
          case 0 => off
          case 1 => 2 * amp + off
          case _ => 2 * (n - 1) + off
        }
        assert(r.rate_hz == 1000 + (id % 4) * 500, s"id=$id s=$s")
        assert(r.computed == Names(typ), s"id=$id s=$s")
        assert(r.declared == (if (mislabeled) Names((typ + 1) % 3) else Names(typ)), s"id=$id s=$s")
        assert(r.is_match == !mislabeled, s"id=$id s=$s")
        assert(r.sum_stim == sumStim, s"id=$id s=$s")
        assert(r.sum_resp == 2 * sumStim + n * off, s"id=$id s=$s")
        assert(r.peak_resp == peakResp, s"id=$id s=$s")
      }
    }
  }

  test("representative election: protocol preference, n=-3 clamping, exact conversion") {
    def rep(convMilli: Int, labels: Seq[String]): RepSweep = {
      // distinct flat stimuli so each sweep's stats are tellable apart
      val chans = labels.indices.map { i =>
        (Array.fill(4)(0.toShort), Array.fill[Short](4)((i + 1).toShort))
      }
      electRepresentative(decodeTraceFull(
        TraceRow(7L, encodeTrace(1000, convMilli, labels, chans))))
    }
    // 'step' beats 'ramp' beats 'flat' regardless of order or counts
    assert(rep(500, Seq("flat", "step", "flat")).protocol == "step")
    assert(rep(500, Seq("ramp", "flat", "ramp")).protocol == "ramp")
    // n=-3: with 3+ matching sweeps the third-from-last wins, unclamped
    val r3 = rep(500, Seq("flat", "flat", "flat", "flat"))
    assert(r3.rep_sweep == 1L && !r3.clamped && r3.n_sweeps_protocol == 4L)
    // fewer than 3 matches clamps to the first and says so
    val r1 = rep(500, Seq("step", "flat", "flat"))
    assert(r1.rep_sweep == 0L && r1.clamped && r1.n_sweeps_protocol == 1L)
    // conversion scales the elected sweep's response stats exactly
    val rc = rep(250, Seq("flat", "flat"))
    assert(rc.conv_milli == 250L && rc.sum_resp_conv == 4L * 1 * 250
      && rc.peak_resp_conv == 1L * 250)
    // unknown protocols rank below the known ones, tie-break by name
    val chans2 = Seq.fill(2)((Array.fill(4)(0.toShort), Array.fill(4)(0.toShort)))
    val ru = electRepresentative(decodeTraceFull(TraceRow(7L,
      encodeTrace(1000, 500, Seq("zzz", "aaa"), chans2))))
    assert(ru.protocol == "aaa")
  }

  test("spark end-to-end: distributed decode equals the driver-side decode") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = spark.range(1, 41).select($"id".as("doc_id"))
    val got = Traces.sweepConsistency(docs).as[SweepReport].collect().toSeq
    val want = (1L until 41L).flatMap(id => decodeTrace(TraceRow(id, synthTrace(id))))
    assert(got == want)
  }

  test("decode-once trace report: both family views derive from the persisted frame") {
    // the morphReport discipline for traces: persist the nested frame,
    // then prove the consistency view (explode sweeps) and the
    // thumbnail view (read rep) equal the standalone operators — the
    // payload is decoded once, never re-read
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf)
    val out = java.nio.file.Files.createTempDirectory("graft_tracereport").toString + "/rep"
    Traces.traceReport(docs).write.mode("overwrite").parquet(out)
    val rep = spark.read.parquet(out)
    assert(rep.select(explode(col("sweeps")).as("s")).select(col("s.*"))
      .collect().toSet == Traces.sweepConsistency(docs).collect().toSet)
    assert(rep.select(col("rep.*")).collect().toSet ==
      Traces.representativeSweeps(docs).collect().toSet)
  }

  test("single-cell type fix: membership through the closure, three exact branches") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.sf)
    val out = Traces.singleCellTypeFix(docs).collect()
    assert(out.length == docs.count(), "one verdict per trace")
    // recompute membership from the q80 view through the closure by hand
    val reference = graft.operators.Ontology.descendantsOf(
        Traces.StimulusEdges.toDF("child", "parent"), Traces.SingleCellRoot)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    // the classifier closes the literal on the driver: same rows, same
    // multiplicity as the lazy closure
    assert(graft.operators.Ontology.localDescendantsOf(
      Traces.StimulusEdges, Traces.SingleCellRoot).sorted == reference)
    val closure = reference.map(_._1).toSet
    assert(closure == Set("current_injection", "step", "ramp"),
      s"the 2-level ontology must close transitively: $closure")
    val byTrace = Traces.sweepConsistency(docs).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getAs[String]("computed")).filter(closure.contains)).toMap
    out.foreach { r =>
      val (id, n, stims, already, action) = (r.getLong(0), r.getLong(1),
        r.getString(2), r.getBoolean(3), r.getString(4))
      val want = byTrace(id)
      assert(n == want.length, s"sweep hit count for $id")
      assert(stims == want.distinct.sorted.mkString(","), s"distinct stimuli for $id")
      assert(already == (id % 7 == 0))
      val wantAction = if (want.isEmpty) "none"
        else if (already) "already_typed" else "add_type"
      assert(action == wantAction, s"branch for $id: got $action, want $wantAction")
    }
    // the fixture's sweeps cycle typ mod 3, so every trace has ≥1
    // single-cell sweep and 'none' is impossible BY CONSTRUCTION here —
    // the per-row check above still pins the none-branch formula
    assert(out.map(_.getString(4)).toSet == Set("already_typed", "add_type"))
  }

  test("symmetric-link fix: all four manifest kinds on a hand-built universe") {
    val spark = TestSpark.spark
    import spark.implicits._
    // parents: 5 Simulation eligible, 7 Experimental eligible, 4
    // IgnoredContainer eligible, 11 eligible-no-children, 13
    // deprecated, 3/9 already carry hasPart (o%3=0)
    val orders = Seq(3L, 4L, 5L, 7L, 9L, 11L, 13L).toDF("o_orderkey")
    val lineitem = Seq(
      (5L, 1), (5L, 2), (5L, 4), (5L, 7), // 57: linenumber%7=0 → dangling
      (7L, 1), (13L, 1), (4L, 2), (3L, 1)
    ).toDF("l_orderkey", "l_linenumber")
    val got = Traces.symmetricLinkFix(orders, lineitem).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        Option(r.getString(3)).getOrElse(""),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val want = Set(
      // assign: min-elected first child + candidate multiplicity.
      // Parent 4 is 'IgnoredContainer' — NOT trace-typed, so the
      // reference's type-filtered query_traces never offers it a
      // hasPart (r13 advice): no assign row for 4
      ("assign", 5L, 51L, "", 3L),
      ("assign", 7L, 71L, "", 1L),
      // eligible parent with no candidate container
      ("no_candidate", 11L, -1L, "", 0L),
      // dangling = "pointing at something that is not an un-deprecated
      // trace": unresolvable target, deprecated target, AND the
      // non-trace-typed target (child 42 → IgnoredContainer parent 4)
      ("dangling", 57L, 1000000005L, "", -1L),
      ("dangling", 131L, 13L, "", -1L),
      ("dangling", 42L, 4L, "", -1L),
      // retype: priority relabel, changed rows only (54 already
      // carries SimulationTrace and must NOT appear). Child 42 ALSO
      // retypes: the reference's retype loop walks every isPartOf
      // target, and a non-trace parent falls into the generic-Trace
      // else branch ("who are you?") while counting as dangling above
      ("retype", 31L, 3L, "Trace", -1L),
      ("retype", 42L, 4L, "Trace", -1L),
      ("retype", 51L, 5L, "SimulationTrace", -1L),
      ("retype", 52L, 5L, "SimulationTrace", -1L),
      ("retype", 71L, 7L, "ExperimentalTrace", -1L))
    assert(got == want, s"manifest mismatch:\n got ${got.toSeq.sorted}\nwant ${want.toSeq.sorted}")
    // plan shape: the candidate collapse is a grouped aggregate, never
    // a per-parent window; joins stay equi
    val df = Traces.symmetricLinkFix(orders, lineitem)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window ["), "no per-parent window")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }
}
