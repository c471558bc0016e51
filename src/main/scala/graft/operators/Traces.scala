package graft.operators

import java.nio.ByteOrder
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Trace-signal modality (SURVEY §2C, q80): electrophysiology-style
  * sweep recordings as opaque binary payloads, decoded and checked for
  * declared-vs-computed stimulus consistency. Reference analogues:
  *   - stimulus types extracted from the NWB BINARY content and
  *     compared against the declared metadata, mismatches reported:
  *     /root/reference/src/trace/fix/check_nwb_stimulus_match.py:33-95
  *   - sweep selection + rate/unit/conversion decode of response data:
  *     /root/reference/src/trace/thumbnail.py:25-46
  *
  * Same method as [[Multimodal]] (q41) and [[Morphology]] (q79): the
  * container ships no HDF5/NWB library, so the engine defines a MINIMAL
  * sweep container — "TRC <sweeps> <n> <rate> <lbl0,...>\n" followed,
  * per sweep, by n int16-LE stimulus samples then n int16-LE response
  * samples. The DECODER is real: header arity/numeric validation,
  * payload-length check, little-endian sample decode, a content-based
  * stimulus classifier (delta analysis), and exact integer channel
  * aggregates. The declared per-sweep labels ride in the header (the
  * metadata side); the classifier recomputes the stimulus type from
  * the SAMPLES (the content side); q80 reports both and the match
  * verdict — the binary twin of q46's text-side declared-vs-computed
  * check. Only the fixture [[synthTrace]] ties payloads to a closed
  * form of the entity id, which the DuckDB oracle replays.
  *
  * At 100 TB: payloads dominate I/O; the decode is row-local behind one
  * skew-evening repartition (zero exchanges otherwise) and reduces each
  * blob to a few longs per sweep — narrow rows for downstream joins.
  * A real deployment swaps [[synthTrace]] for its NWB files and
  * [[classify]] for its protocol detector; schema and plumbing stay.
  */
object Traces {

  final case class TraceRow(trace_id: Long, trc: Array[Byte])

  final case class SweepReport(
      trace_id: Long, sweep: Long, rate_hz: Long,
      declared: String, computed: String, is_match: Boolean,
      sum_stim: Long, sum_resp: Long, peak_resp: Long)

  /** full decode result: the per-sweep reports plus the container's
    * conversion factor (milli-units — the h5 `conversion` attribute of
    * the reference's thumbnail chain, kept integer so converted stats
    * stay exact). */
  final case class TraceDecoded(conv_milli: Long, reports: Seq[SweepReport])

  /** q80b output: the elected representative sweep + converted stats. */
  final case class RepSweep(
      trace_id: Long, protocol: String, n_sweeps_protocol: Long,
      rep_sweep: Long, clamped: Boolean, rate_hz: Long, conv_milli: Long,
      computed: String, sum_resp_conv: Long, peak_resp_conv: Long)

  /** stimulus classes the content-based classifier can emit. */
  val Names: Vector[String] = Vector("flat", "step", "ramp")

  /** protocol preference for the representative election: a thumbnail
    * wants the step response first; unknown protocols rank last and
    * tie-break by name. */
  val ProtocolPreference: Vector[String] = Vector("step", "ramp", "flat")

  // -------------------------------------------------------------- codec

  /** encode a trace container: ASCII header (declared per-sweep labels
    * + integer-milli conversion factor — the "metadata" channel) + per
    * sweep, n int16-LE stimulus samples then n int16-LE response
    * samples. */
  def encodeTrace(rateHz: Int, convMilli: Int, labels: Seq[String],
                  sweeps: Seq[(Array[Short], Array[Short])]): Array[Byte] = {
    require(sweeps.nonEmpty, "a trace needs at least one sweep")
    require(convMilli > 0, s"conversion must be positive, got $convMilli")
    require(labels.length == sweeps.length,
      s"${labels.length} labels for ${sweeps.length} sweeps")
    val n = sweeps.head._1.length
    sweeps.foreach { case (st, re) =>
      require(st.length == n && re.length == n, "ragged sweep channels")
    }
    val header = s"TRC ${sweeps.length} $n $rateHz $convMilli ${labels.mkString(",")}\n"
      .getBytes(US_ASCII)
    val buf = java.nio.ByteBuffer.allocate(sweeps.length * n * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    sweeps.foreach { case (st, re) => st.foreach(buf.putShort); re.foreach(buf.putShort) }
    header ++ buf.array()
  }

  /** content-based stimulus classification from the sample deltas:
    * constant → flat; constant positive slope → ramp; a single upward
    * jump → step; anything else → other. Purely a function of the
    * decoded samples — the "computed" side of the consistency check. */
  def classify(stim: Array[Short]): String = {
    val deltas = Array.tabulate(stim.length - 1)(i => stim(i + 1) - stim(i))
    if (deltas.forall(_ == 0)) "flat"
    else if (deltas(0) > 0 && deltas.forall(_ == deltas(0))) "ramp"
    else if (deltas.count(_ != 0) == 1 && deltas.filter(_ != 0).head > 0) "step"
    else "other"
  }

  /** REAL decode: header arity/numeric/label-count validation, payload
    * length check (Long math), little-endian int16 channel decode, then
    * per-sweep classification and exact integer aggregates. Fails loud
    * with IllegalArgumentException on any malformed payload — the q41
    * decoder contract. */
  def decodeTrace(row: TraceRow): Seq[SweepReport] =
    decodeTraceFull(row).reports

  /** decode INCLUDING the header's conversion factor (q80b needs it;
    * q80's per-sweep report does not carry it). */
  def decodeTraceFull(row: TraceRow): TraceDecoded = {
    val bytes = row.trc
    val nl = bytes.indexOf('\n'.toByte)
    require(nl > 0, "trace payload has no header line")
    val header = new String(bytes, 0, nl, US_ASCII).split(" ")
    require(header.length == 6 && header(0) == "TRC",
      s"malformed TRC header: ${header.length} fields, magic '${header.headOption.getOrElse("?")}'")
    val Array(sweeps, n, rate, conv) =
      try header.slice(1, 5).map(_.toLong)
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"non-numeric TRC header field")
      }
    require(sweeps > 0 && n > 1 && rate > 0, s"bad TRC geometry $sweeps x $n @ $rate")
    require(conv > 0, s"non-positive TRC conversion $conv")
    val labels = header(5).split(",", -1)
    require(labels.length == sweeps,
      s"${labels.length} declared labels for $sweeps sweeps")
    val payload = (bytes.length - nl - 1).toLong
    // overflow-checked product: "TRC 1 4611686018427387905 ..." would
    // wrap sweeps*n*4 back to 4 and "validate" against a 4-byte payload
    val expected =
      try Math.multiplyExact(Math.multiplyExact(sweeps, n), 4L) catch {
        case _: ArithmeticException =>
          throw new IllegalArgumentException(s"TRC geometry overflow: $sweeps x $n")
      }
    require(payload == expected, s"truncated trace: $payload != $expected")
    val buf = java.nio.ByteBuffer.wrap(bytes, nl + 1, payload.toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    val reports = (0 until sweeps.toInt).map { s =>
      val stim = Array.fill(n.toInt)(buf.getShort())
      val resp = Array.fill(n.toInt)(buf.getShort())
      val computed = classify(stim)
      SweepReport(row.trace_id, s.toLong, rate,
        declared = labels(s), computed = computed,
        is_match = labels(s) == computed,
        sum_stim = stim.foldLeft(0L)(_ + _),
        sum_resp = resp.foldLeft(0L)(_ + _),
        peak_resp = resp.foldLeft(Long.MinValue)((m, v) => math.max(m, v.toLong)))
    }
    TraceDecoded(conv, reports)
  }

  // ------------------------------------------- representative election

  /** q80b election, pure over one decoded container — the reference's
    * thumbnail selection chain (thumbnail.py:25-46: walk the h5 keys,
    * select_protocol, repetition n=0, SWEEP n=-3, response channel,
    * then scale by the `conversion` attribute). Engine semantics:
    *
    *   - the PROTOCOL is elected over the DECLARED labels (the
    *     metadata channel — the reference walks h5 group keys, not
    *     waveforms) by [[ProtocolPreference]]; unknown labels rank
    *     last, ties break by name;
    *   - the representative is the THIRD-FROM-LAST sweep (n=-3) of the
    *     elected protocol in sweep order, CLAMPED to the first when
    *     fewer than three exist (the reference would throw; an audit
    *     pipeline flags it instead — `clamped`);
    *   - response stats scale by the integer-milli conversion, exactly.
    */
  def electRepresentative(dec: TraceDecoded): RepSweep = {
    val byLabel = dec.reports.groupBy(_.declared)
    def rank(l: String): (Int, String) = {
      val i = ProtocolPreference.indexOf(l)
      (if (i >= 0) i else ProtocolPreference.length, l)
    }
    val protocol = byLabel.keys.minBy(rank)
    val matching = byLabel(protocol).sortBy(_.sweep)
    val idx = math.max(0, matching.length - 3)
    val rep = matching(idx)
    RepSweep(rep.trace_id, protocol, matching.length.toLong, rep.sweep,
      clamped = matching.length < 3, rep.rate_hz, dec.conv_milli,
      rep.computed, rep.sum_resp * dec.conv_milli, rep.peak_resp * dec.conv_milli)
  }

  // ------------------------------------------------------------- fixture

  /** Synthetic trace FIXTURE: geometry, waveforms and labels are closed
    * forms of the entity id — 2 + id%3 sweeps of 16 + (id%8)·2 samples
    * at 1000 + (id%4)·500 Hz; sweep s carries stimulus type
    * (id+s)%3 ∈ {flat, step(amp 10+id%20 at n/2), ramp(slope 1)} and
    * response = 2·stimulus + (id%5). The declared header label is the
    * true type EXCEPT when (id·7+s)%13 == 0, where it is rotated one
    * class forward — the deterministic mislabel the consistency check
    * must catch. The DuckDB oracle (SparkEntry) replays exactly this;
    * the decoder above never sees it. */
  def synthTrace(id: Long): Array[Byte] = {
    val sweeps = (2 + id % 3).toInt
    val n = (16 + (id % 8) * 2).toInt
    val rate = (1000 + (id % 4) * 500).toInt
    val convMilli = (250 * (1 + id % 4)).toInt
    val amp = (10 + id % 20).toShort
    val off = (id % 5).toShort
    val channels = (0 until sweeps).map { s =>
      val typ = ((id + s) % 3).toInt
      val stim = Array.tabulate(n) { i =>
        typ match {
          case 0 => 0.toShort
          case 1 => if (i < n / 2) 0.toShort else amp
          case _ => i.toShort
        }
      }
      val resp = stim.map(v => (2 * v + off).toShort)
      (stim, resp)
    }
    val labels = (0 until sweeps).map { s =>
      val typ = ((id + s) % 3).toInt
      if ((id * 7 + s) % 13 == 0) Names((typ + 1) % 3) else Names(typ)
    }
    encodeTrace(rate, convMilli, labels, channels)
  }

  /** Trace frame over the documents table: one sweep container per
    * entity — the opaque-binary shape a real trace store carries. */
  def traceFrame(documents: DataFrame): Dataset[TraceRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].map(id => TraceRow(id, synthTrace(id)))
  }

  /** the decode stage alone: per-partition container decode, 1→N. */
  private def decodeStage(rows: Dataset[TraceRow]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.mapPartitions(_.flatMap(decodeTrace)).toDF()
  }

  /** q80: decode every container (row-local, per-partition) and emit
    * the per-sweep declared-vs-computed consistency report — q46's
    * binary twin. */
  def sweepConsistency(documents: DataFrame, partitions: Int = 0): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val width = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    decodeStage(traceFrame(documents)
        .repartition(width, col("trace_id"))
        .as[TraceRow])
      .orderBy("trace_id", "sweep")
  }

  /** stream-safe decode: stateless and row-local (no repartition, no
    * sort) — runs unchanged on a readStream documents frame
    * (graft.streaming.DocStreams.traceCheckStream, spec-equal to the
    * batch q80). */
  def sweepConsistencyRowLocal(documents: DataFrame): DataFrame =
    decodeStage(traceFrame(documents))

  /** q80b: REPRESENTATIVE-SWEEP election + unit conversion — decode
    * every container and elect its thumbnail sweep row-locally (the
    * whole selection chain is per-entity, so it rides the decode scan:
    * zero exchanges beyond the skew-evening repartition and the output
    * sort — q79's plan shape). */
  def representativeSweeps(documents: DataFrame, partitions: Int = 0): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val width = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    traceFrame(documents)
      .repartition(width, col("trace_id"))
      .as[TraceRow]
      .mapPartitions(_.map(r => electRepresentative(decodeTraceFull(r))))
      .toDF()
      .orderBy("trace_id")
  }

  // ------------------------------------- decode-once combined report

  /** the full per-entity record both family views derive from — ONE
    * container decode per payload. */
  final case class TraceReport(
      trace_id: Long, conv_milli: Long,
      sweeps: Seq[SweepReport], rep: RepSweep)

  /** DECODE-ONCE report frame — the [[graft.operators.NeuriteAtlas
    * .morphReport]] shape for the trace family: q80 and q80b each pay
    * a full payload decode (the dominant cost at scale); a deployment
    * decodes ONCE, persists this nested frame (a few longs per sweep,
    * a tiny fraction of the payload bytes), and the consistency view
    * (explode `sweeps`) and the thumbnail view (read `rep`) become
    * column reads over the persisted parquet. The decode and election
    * are the SAME functions the standalone operators run, so the views
    * cannot drift — spec-proven equal. */
  def traceReport(documents: DataFrame, partitions: Int = 0): Dataset[TraceReport] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val width = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    traceFrame(documents)
      .repartition(width, col("trace_id"))
      .as[TraceRow]
      .mapPartitions(_.map { r =>
        val dec = decodeTraceFull(r)
        TraceReport(r.trace_id, dec.conv_milli, dec.reports,
          electRepresentative(dec))
      })
  }

  // --------------------------------- single-cell type classification

  /** the stimulus-type ontology stand-in (child → parent), two levels
    * deep so the closure genuinely traverses: the classifier's leaf
    * classes roll up through `current_injection` to the single-cell
    * protocol root, while `flat` hangs off a non-single-cell branch.
    * A deployment swaps this literal for its ontology edge table. */
  val StimulusEdges: Seq[(String, String)] = Seq(
    "step" -> "current_injection",
    "ramp" -> "current_injection",
    "current_injection" -> "single_cell_protocol",
    "flat" -> "ambient_protocol")

  val SingleCellRoot = "single_cell_protocol"

  /** declared already-typed rule — the stand-in for "NEW_TYPE already in
    * the resource's type list", a pure id rule mirrored in the oracle. */
  private def alreadyTyped(id: org.apache.spark.sql.Column) = id % 7 === 0

  /** q123: SINGLE-CELL TYPE FIX — the classify half of the reference's
    * membership-classify→upsert loop
    * (/root/reference/src/trace/fix/add_single_cell_type.py:70-100
    * `_add_single_cell_type`: stimulus types extracted from the trace
    * CONTENT are intersected with the single-cell stimulus ontology
    * subtree; a hit on an untyped trace triggers the type-adding
    * update, a hit on an already-typed trace logs a warning, no hit is
    * a no-op). Per trace: how many sweeps computed a single-cell
    * stimulus, which distinct stimuli, whether the type already exists,
    * and the resulting action ∈ add_type | already_typed | none —
    * exactly the reference's three branches. The APPLY half is q43's
    * MERGE (filter action = 'add_type', upsert the type column) — the
    * keep-newest-deprecate-rest election of
    * quality_metric_resource.py:108 composes the same way from q05 +
    * q43 (see SURVEY §3).
    *
    * Scale shape: content classification rides the ONE row-local
    * decode scan (q80's machinery — a deployment reads the persisted
    * [[traceReport]] frame instead of re-decoding); the literal
    * ontology closes on the driver into one membership test; one
    * map-side-combined trace-keyed aggregate ends the plan. */
  def singleCellTypeFix(documents: DataFrame): DataFrame =
    singleCellClassify(
      sweepConsistencyRowLocal(documents).select("trace_id", "computed"))
      .orderBy("trace_id")

  /** the classify core of q123 over an arbitrary (trace_id, computed)
    * per-sweep frame — ONE definition shared by the standalone operator
    * (which derives the frame from a fresh decode) and the q142
    * pipeline (which derives it from the PERSISTED [[traceReport]] —
    * the deployment's decode-once read path), so the two verdicts
    * cannot drift (the q140/q141 shared-diff discipline). Unsorted —
    * callers order. */
  def singleCellClassify(computedSweeps: DataFrame): DataFrame = {
    // the literal ontology closes on the driver: membership is one isin
    // over the closed set, not a lazy closure joined against every sweep
    val singleCell = Ontology.localDescendantsOf(StimulusEdges, SingleCellRoot)
      .map(_._1).distinct
    val hit = col("computed").isin(singleCell: _*)
    computedSweeps
      .groupBy(col("trace_id"))
      .agg(
        count(when(hit, lit(1))).as("n_single_cell_sweeps"),
        array_join(array_sort(collect_set(when(hit, col("computed")))), ",")
          .as("single_cell_stimuli"))
      .withColumn("already_typed", alreadyTyped(col("trace_id")))
      .withColumn("action",
        when(col("n_single_cell_sweeps") === 0L, lit("none"))
          .when(col("already_typed"), lit("already_typed"))
          .otherwise(lit("add_type")))
      .select("trace_id", "n_single_cell_sweeps", "single_cell_stimuli",
        "already_typed", "action")
  }

  /** q139: SYMMETRIC-LINK FIX manifest — the LAST computation-bearing
    * reference file (/root/reference/src/trace/fix/
    * trace_web_data_container.py), adjudicated as its own operator.
    * The reference runs two jobs over a parent table (traces) and a
    * child table (containers whose `isPartOf` points at a parent):
    *
    *  - `assign_trace_has_part_field` (:106-158): parents WITHOUT a
    *    declared `hasPart` get the FIRST candidate child assigned
    *    (:148-150 takes element [0] of the per-parent candidate list;
    *    here the election is min(child_id) — a total order where the
    *    reference has Python dict insertion order, the q05 discipline),
    *    plus the diagnostics it logs: the per-parent candidate
    *    multiplicity (:128 "Set of lengths"), parents with no
    *    candidate (:129), and children pointing at something that is
    *    not an un-deprecated parent (:131). Assignability is
    *    TYPE-FILTERED: `trace_ids` comes from `query_traces` (:107),
    *    so a parent that is not trace-typed (the fixture's
    *    'IgnoredContainer') never receives `hasPart` and never counts
    *    as a no-candidate trace — its children land in the
    *    isPartOf_not_trace diagnostic instead (:131 computes exactly
    *    `keys − trace_ids`, which spans non-existent, deprecated AND
    *    non-trace-typed targets; the `dangling` kind here mirrors all
    *    three).
    *  - `set_is_part_of_to_right_type` (:39-103): each child's
    *    `isPartOf.type` is relabeled from its parent's actual type
    *    under the priority SimulationTrace > ExperimentalTrace >
    *    generic Trace (:89-95 — the final else IS the "who are you?"
    *    branch: anything else keeps the generic type, INCLUDING a
    *    non-trace-typed parent — the loop iterates every isPartOf
    *    target (:72), not the trace intersection, so an
    *    'IgnoredContainer' parent still retypes its children to the
    *    generic Trace while also counting in the diagnostic above);
    *    deprecated parents are skipped (:78-80). The manifest keeps
    *    CHANGED rows only (the q56 changed-rows-only audit
    *    discipline; the reference pushes no-op updates too).
    *
    * Fixture mapping: parents = orders (declared type / deprecation /
    * has-hasPart as o_orderkey closed forms), children = lineitem
    * (child id = 10·l_orderkey + l_linenumber; every 7th line number
    * points at a non-existent parent — the dangling population). Both
    * engines replay the id rules exactly.
    *
    * One row per (kind, id): kind ∈ assign | no_candidate | dangling |
    * retype, ref_id = the other end of the link, new_type only on
    * retype rows, n_candidates only on the parent-grain kinds.
    *
    * Scale shape: children collapse through ONE map-side-combined
    * groupBy(is_part_of) (min-election + count — never a per-parent
    * window); two AQE-splittable equi-joins on the parent key (the
    * grouped frame for assign/no_candidate, the raw child rows for
    * dangling/retype); everything after is row-local CASE logic. At
    * 100 TB the exchanges carry one narrow row per link or per parent
    * — no data-sized broadcast, no window. */
  def symmetricLinkFix(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val parents = orders.select(
      col("o_orderkey").cast("long").as("p_id"),
      (col("o_orderkey") % 13 === 0).as("deprecated"),
      expr("""CASE CAST(o_orderkey % 5 AS INT)
                WHEN 0 THEN 'SimulationTrace'
                WHEN 1 THEN 'ExperimentalTrace'
                WHEN 2 THEN 'ExperimentalTrace'
                WHEN 3 THEN 'Trace'
                ELSE 'IgnoredContainer' END""").as("p_type"),
      (col("o_orderkey") % 3 === 0).as("has_part_declared"))
    val children = lineitem.select(
      (col("l_orderkey").cast("long") * 10L + col("l_linenumber").cast("long")).as("c_id"),
      when(col("l_linenumber") % 7 === 0,
        col("l_orderkey").cast("long") + lit(1000000000L))
        .otherwise(col("l_orderkey").cast("long")).as("is_part_of"),
      expr("""CASE CAST((l_orderkey * 10 + l_linenumber) % 4 AS INT)
                WHEN 0 THEN 'Trace'
                WHEN 1 THEN 'ExperimentalTrace'
                WHEN 2 THEN 'SimulationTrace'
                ELSE 'Dataset' END""").as("ipo_type"))
    // per-parent candidate collapse: min-elected first child + count
    val cands = children.groupBy(col("is_part_of").as("p_id"))
      .agg(min(col("c_id")).as("first_child"),
        count(lit(1)).cast("long").as("n_candidates"))
    val parentSide = parents
      .filter(!col("deprecated") && !col("has_part_declared") &&
        col("p_type") =!= "IgnoredContainer")
      .join(cands, Seq("p_id"), "left")
      .select(
        when(col("first_child").isNotNull, lit("assign"))
          .otherwise(lit("no_candidate")).as("kind"),
        col("p_id").as("id"),
        col("first_child").as("ref_id"),
        lit(null).cast("string").as("new_type"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
    val linked = children.join(parents, col("is_part_of") === col("p_id"), "left")
    val dangling = linked
      .filter(col("p_id").isNull || col("deprecated") ||
        col("p_type") === "IgnoredContainer")
      .select(lit("dangling").as("kind"), col("c_id").as("id"),
        col("is_part_of").as("ref_id"),
        lit(null).cast("string").as("new_type"),
        lit(null).cast("long").as("n_candidates"))
    val retype = linked
      .filter(col("p_id").isNotNull && !col("deprecated"))
      .withColumn("new_type",
        when(col("p_type") === "SimulationTrace", lit("SimulationTrace"))
          .when(col("p_type") === "ExperimentalTrace", lit("ExperimentalTrace"))
          .otherwise(lit("Trace")))
      .filter(col("new_type") =!= col("ipo_type"))
      .select(lit("retype").as("kind"), col("c_id").as("id"),
        col("is_part_of").as("ref_id"), col("new_type"),
        lit(null).cast("long").as("n_candidates"))
    parentSide.unionByName(dangling).unionByName(retype)
      .orderBy("kind", "id")
  }
}
