package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}

/** The sidecar JSON codec: names that carry JSON punctuation round-trip,
  * the written bytes keep the layout these files have always had, and
  * every sidecar in the bytes earlier releases wrote still reads the
  * same. */
class SidecarCodecSpec extends graft.SparkSpec {

  private def tmpBase(prefix: String): String = {
    val b = Files.createTempDirectory(prefix).toString + "/t"
    Files.createDirectories(Paths.get(b))
    b
  }
  private def fsOf(base: String): FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def put(base: String, name: String, body: String): Unit =
    Files.write(Paths.get(base, name), body.getBytes(UTF_8)): Unit
  private def text(base: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(base, name)), UTF_8)

  test("a partition column named a]b reads back partitioned from a v1 _partition.json") {
    val base = tmpBase("graft-sc-part1")
    val fs = fsOf(base)
    SnapshotStore.writeStoredPartitionBy(fs, base, Seq("a]b", "c"))
    assert(text(base, "_partition.json") == """{"partitionBy": ["a]b", "c"]}""")
    assert(SnapshotStore.readStoredPartitionBy(fs, base) == Seq("a]b", "c"))
  }

  test("a partition column named a]b reads back partitioned from a v2 _partition.json") {
    val base = tmpBase("graft-sc-part2")
    val fs = fsOf(base)
    SnapshotStore.writeStoredPartitionBy(fs, base, Seq("c"))
    // evolving rewrites the sidecar in the versioned (v2) format
    assert(SnapshotStore.evolvePartitionSpec(fs, base, Seq("a]b", "[x]")) == 1)
    assert(text(base, "_partition.json") ==
      """{"specs": [["c"], ["a]b", "[x]"]], "current": 1}""")
    assert(SnapshotStore.readPartitionSpecHistory(fs, base) ==
      ((Seq(Seq("c"), Seq("a]b", "[x]")), 1)))
    assert(SnapshotStore.readStoredPartitionBy(fs, base) == Seq("a]b", "[x]"))
  }

  test("every sidecar in the bytes earlier releases wrote still reads the same") {
    val base = tmpBase("graft-sc-compat")
    val fs = fsOf(base)
    // earlier writers escaped only backslash and quote
    put(base, "_store.json", """{"keyCol": "my \"key\\", "pool": "/lake/own/files"}""")
    assert(SnapshotStore.readStoredKeyCol(fs, base).contains("my \"key\\"))
    assert(SnapshotStore.readStoredPool(fs, base).contains("/lake/own/files"))

    put(base, "_partition.json", """{"partitionBy": ["region", "days(ts)"]}""")
    assert(SnapshotStore.readPartitionSpecHistory(fs, base) ==
      ((Seq(Seq("region", "days(ts)")), 0)))
    put(base, "_partition.json", """{"specs": [["days(ts)"], ["months(ts)"]], "current": 1}""")
    assert(SnapshotStore.readPartitionSpecHistory(fs, base) ==
      ((Seq(Seq("days(ts)"), Seq("months(ts)")), 1)))

    put(base, "_bucket.json", """{"col": "k", "n": 8}""")
    assert(SnapshotStore.readStoredBucketBy(fs, base).contains(("k", 8)))

    // a constraint expression written with a RAW newline inside its string
    put(base, "_constraints.json", "{\"constraints\": [{\"name\": \"pos\", \"expr\": \"k > 0\"}, " +
      "{\"name\": \"ml\", \"expr\": \"v IS NOT NULL\nAND v <> \\\"x\\\"\"}]}")
    assert(SnapshotStore.readConstraints(fs, base) ==
      Seq(("pos", "k > 0"), ("ml", "v IS NOT NULL\nAND v <> \"x\"")))

    put(base, "_clones.json", """{"clones": ["/lake/a", "/lake/b \"c\""]}""")
    assert(ManifestStore.registeredClonesAt(fs, base) == Seq("/lake/a", "/lake/b \"c\""))

    // the op sidecar and checkpoint were written with full JSON escapes
    val vdir = new Path(base, "v=2")
    fs.mkdirs(vdir)
    put(s"$base/v=2", "_op.json", "{\"op\": \"deleteWhere\", \"params\": " +
      "\"(k = 'a\\\"b\\\\c')\\n\\t\\u0001\", \"metrics\": {\"numDeletedRows\": 1, \"numFiles\": 2}}")
    assert(SnapshotStore.readOpSidecar(fs, vdir) ==
      (("deleteWhere", "(k = 'a\"b\\c')\n\t\u0001",
        Map("numDeletedRows" -> 1L, "numFiles" -> 2L))))
    put(s"$base/v=2", "_op.json", """{"op": "deleteWhere", "params": "k = 3"}""")
    assert(SnapshotStore.readOpSidecar(fs, vdir) == (("deleteWhere", "k = 3", Map.empty)))

    put(base, "_history.json", "{\"history\": [" +
      "{\"v\": 1, \"ts\": 100, \"f\": 2, \"r\": 10, \"b\": 500, \"op\": \"write\", " +
      "\"p\": \"\", \"m\": {\"numFiles\": 2}}, " +
      "{\"v\": 2, \"ts\": 200, \"f\": 3, \"r\": 12, \"b\": 80, \"op\": \"mergeDelta\", " +
      "\"p\": \"k = \\\"x\\\\y\\\"\", \"m\": {}}, " +
      "{\"v\": 3, \"ts\": 300, \"f\": 1, \"r\": 1, \"b\": 0}]}")
    assert(SnapshotStore.readHistoryCkpt(fs, base) == Map(
      1L -> SnapshotStore.HistoryEntry(100L, 2L, 10L, 500L, "write", "", Map("numFiles" -> 2L)),
      2L -> SnapshotStore.HistoryEntry(200L, 3L, 12L, 80L, "mergeDelta", "k = \"x\\y\""),
      3L -> SnapshotStore.HistoryEntry(300L, 1L, 1L, 0L)))
  }

  test("the writers keep the one-line layout; the checkpoint round-trips") {
    val base = tmpBase("graft-sc-write")
    val fs = fsOf(base)
    SnapshotStore.writeConstraints(fs, base, Seq(("pos", "k > 0"), ("q", "v <> \"a\\b\"")))
    assert(text(base, "_constraints.json") == "{\"constraints\": [{\"name\": \"pos\", " +
      "\"expr\": \"k > 0\"}, {\"name\": \"q\", \"expr\": \"v <> \\\"a\\\\b\\\"\"}]}")
    SnapshotStore.writeStoredBucketBy(fs, base, "k", 4)
    assert(text(base, "_bucket.json") == """{"col": "k", "n": 4}""")
    val entries = Map(
      2L -> SnapshotStore.HistoryEntry(20L, 1L, 5L, 9L, "mergeDelta", "p \"q\"\n",
        Map("b" -> 2L, "a" -> 1L)),
      1L -> SnapshotStore.HistoryEntry(10L, 2L, 4L, 7L))
    SnapshotStore.writeHistoryCkpt(fs, base, entries)
    assert(text(base, "_history.json") == "{\"history\": [" +
      "{\"v\": 1, \"ts\": 10, \"f\": 2, \"r\": 4, \"b\": 7, \"op\": \"unknown\", \"p\": \"\", " +
      "\"m\": {}}, {\"v\": 2, \"ts\": 20, \"f\": 1, \"r\": 5, \"b\": 9, \"op\": \"mergeDelta\", " +
      "\"p\": \"p \\\"q\\\"\\n\", \"m\": {\"a\": 1, \"b\": 2}}]}")
    assert(SnapshotStore.readHistoryCkpt(fs, base) == entries)
  }
}
