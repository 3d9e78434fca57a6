package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.table._

/** The metadata plane's one JSON codec: `vN.json` and manifests are
  * written compactly through one Jackson mapper, absent options are
  * omitted, every field reads back equal — including an `Option[Long]`,
  * which erasure would otherwise read back as a boxed Int — and a table
  * written by the earlier pretty-printing codec still reads. */
class MetaCodecSpec extends AnyFunSuite {

  private def loc(): String = Scratch.dir("graft-codec").toString

  /** A state where every `Option` field occurs both set and absent. */
  private val state = TableMeta(
    formatVersion = 3, tableUuid = "u-1", lastFieldId = 2, lastSchemaId = 0,
    lastSpecId = 1, lastSnapshotId = 5000000000L, lastSequenceNumber = 3L,
    lastRowId = 7L, currentSchemaId = 0, currentSpecId = 1,
    schemas = List(SchemaMeta(0, List(
      FieldMeta(1, "k", "bigint", nullable = false),
      FieldMeta(2, "v", "decimal(12,2)", initialDefault = Some("1.50"), doc = Some("a value"))))),
    specs = List(PartSpecMeta(0, Nil), PartSpecMeta(1, List(
      PartFieldMeta("k_bucket", "bucket", List(1), Some(8)),
      PartFieldMeta("k", "identity", List(1))))),
    snapshots = List(
      SnapshotMeta(1L, None, 1L, 1700000000000L, "append", 0, List("manifests/1-a.jsonl")),
      SnapshotMeta(2L, Some(1L), 2L, 1700000000001L, "delete", 0,
        List("manifests/1-a.jsonl", "manifests/2-a.jsonl"), Map("added-records" -> "3"),
        Map("manifests/2-a.jsonl" -> SegStats(List(Map("k" -> "1")), complete = true))),
      SnapshotMeta(5000000000L, Some(2L), 3L, 1700000000002L, "append", 0, Nil)),
    refs = Map("main" -> RefMeta(5000000000L, isBranch = true), "t" -> RefMeta(1L, isBranch = false)),
    properties = Map("manifest" -> "a property, not a segment"))

  private def versionFile(l: String, v: Int) = Paths.get(l, "metadata", f"v$v%05d.json")

  test("every field round-trips; an Option[Long] reads back as a Long") {
    val l = loc()
    Meta.writeJsonAt(state, l, 1)
    val back = Meta.readJson(l)
    assert(back == state)
    assert(back.snapshots.map(_.parentId.map(_ + 1)) == List(None, Some(2L), Some(3L)))
    assert(back.specs(1).fields.map(_.param.map(_ * 2)) == List(Some(16), None))
  }

  test("vN.json is compact and omits absent options") {
    val l = loc()
    Meta.writeJsonAt(state, l, 1)
    val text = Files.readString(versionFile(l, 1))
    assert(!text.contains("\n"), "one line, no pretty-printing")
    assert(!text.contains(":null"), s"an absent option is omitted: $text")
    assert(text.split("\"initialDefault\"").length == 2, "written once, for the field that has it")
    assert(text.split("\"parentId\"").length == 3, "written for the two snapshots that have one")
  }

  test("a manifest entry round-trips with set and absent column bounds") {
    val l = loc()
    val e = FileMeta("data/s1/a.parquet", "data", 1, 0, Map("k" -> "1"), 10L, 100L, 2L,
      Map("1" -> ColStats(Some("1"), None, 0L), "2" -> ColStats(None, Some("z"), 3L)),
      firstRowId = 5000000000L)
    val rel = Meta.writeManifest(l, "codec-seg", Seq(e))
    assert(!Files.readString(Paths.get(l, rel)).contains(":null"))
    assert(Meta.readManifest(l, rel) == Seq(e))
  }

  test("a vN.json written by the earlier pretty-printing codec still reads") {
    val l = loc()
    Files.createDirectories(versionFile(l, 1).getParent)
    Files.writeString(versionFile(l, 1),
      org.json4s.jackson.Serialization.writePretty(state)(org.json4s.DefaultFormats))
    assert(Files.readString(versionFile(l, 1)).contains("\n"))
    val back = Meta.readJson(l)
    assert(back == state)
    assert(back.snapshots(1).parentId.map(_ + 1).contains(2L))
  }

  test("fields another writer omits read back as their defaults") {
    val l = loc()
    Files.createDirectories(versionFile(l, 1).getParent)
    // the shape scripts/extwriter.py publishes: no manifestStats, no
    // parentId on a root snapshot, a field without nullable
    Files.writeString(versionFile(l, 1), """{"formatVersion": 3, "tableUuid": "u",
      "lastFieldId": 1, "lastSchemaId": 0, "lastSpecId": 0, "lastSnapshotId": 1,
      "lastSequenceNumber": 1, "lastRowId": 0, "currentSchemaId": 0, "currentSpecId": 0,
      "schemas": [{"schemaId": 0, "fields": [{"id": 1, "name": "k", "dtype": "bigint"}]}],
      "specs": [{"specId": 0, "fields": []}],
      "snapshots": [{"snapshotId": 1, "sequenceNumber": 1, "timestampMs": 1,
        "operation": "append", "schemaId": 0, "manifests": []}],
      "refs": {}, "properties": {}}""")
    val back = Meta.readJson(l)
    val snap = back.snapshots.head
    assert(snap.parentId.isEmpty && snap.summary.isEmpty && snap.manifestStats.isEmpty)
    assert(back.schemas.head.fields.head == FieldMeta(1, "k", "bigint"))
  }
}
