package graft

import org.apache.spark.sql.functions._
import graft.operators.Hierarchy

/** FSO parent-pointer hierarchy on a tiny hand-built tree. */
class HierarchySpec extends SparkSpecBase {
  import spark.implicits._

  // tree: a/ , a/b/ , c/  with files a/f1, a/b/f2, c/f3, f4 (root file)
  private def id(p: String) = Hierarchy.pathIdOf("v", "b", p)

  private lazy val dirs = Seq(
    ("v", "b", id("a"), 0L, "a"),
    ("v", "b", id("a/b"), id("a"), "b"),
    ("v", "b", id("c"), 0L, "c"))
    .toDF("volume", "bucket", "dir_id", "parent_id", "name")

  private lazy val files = Seq(
    ("v", "b", id("a"), "f1", 1L, 10L),
    ("v", "b", id("a/b"), "f2", 2L, 20L),
    ("v", "b", id("c"), "f3", 3L, 30L),
    ("v", "b", 0L, "f4", 4L, 40L))
    .toDF("volume", "bucket", "parent_id", "name", "object_id", "data_size")
    .withColumn("modification_time", lit(0L))

  // the listings' child summary, over the directory paths the ladder resolves
  private lazy val dirPaths = Hierarchy.resolveDirs(dirs)
  private lazy val children = Hierarchy.childSummary(dirPaths, files)

  test("resolveDirs rebuilds full paths from parent pointers") {
    val r = Hierarchy.resolveDirs(dirs, maxDepth = 4)
      .select("dir_id", "path").as[(Long, String)].collect().toMap
    assert(r === Map(id("a") -> "a", id("a/b") -> "a/b", id("c") -> "c"))
  }

  test("resolveDirs deeper than the maxDepth hint: extension rounds still " +
    "root every path (single-evaluation pin, r15)") {
    // chain d1/d2/.../d6 with maxDepth = 2 forces the completeness check
    // to fire unresolved and the climb to extend in further batches —
    // the path the r15 pin-before-check reorder must keep correct
    val chain = (1 to 6).map { i =>
      val p = (1 to i).map(n => s"d$n").mkString("/")
      val parent = if (i == 1) 0L else id((1 to i - 1).map(n => s"d$n").mkString("/"))
      ("v", "b", id(p), parent, s"d$i")
    }.toDF("volume", "bucket", "dir_id", "parent_id", "name")
    val before = cachedEntries(spark)
    val resolved = Hierarchy.resolveDirs(chain, maxDepth = 2)
    // every round pins its ladder; each superseded round's pin is released
    assert(cachedEntries(spark) === before + 1)
    val r = resolved.select("dir_id", "path").as[(Long, String)].collect().toMap
    val want = (1 to 6).map { i =>
      val p = (1 to i).map(n => s"d$n").mkString("/"); id(p) -> p
    }.toMap
    assert(r === want)
  }

  test("resolveFiles round-trips to full file paths") {
    val paths = Hierarchy.resolveFiles(dirs, files)
      .select("path").as[String].collect().toSeq
    // root files (parent_id = 0) are not resolvable through the dir table
    assert(paths === Seq("a/b/f2", "a/f1", "c/f3"))
  }

  test("listStatusFso lists immediate children with RECURSIVE subtree rollups") {
    // 'a' counts f1 AND a/b/f2 — the whole subtree, not just direct files
    val root = rows(Hierarchy.listStatusFso(children, "v", "b", ""))
    assert(root === Seq(
      Seq("a", true, 2L, 30L), Seq("c", true, 1L, 30L),
      Seq("f4", false, 1L, 40L)))
    val underA = rows(Hierarchy.listStatusFso(children, "v", "b", "a"))
    assert(underA === Seq(
      Seq("b", true, 1L, 20L), Seq("f1", false, 1L, 10L)))
  }

  test("paged FSO listStatus: pages concatenate to the unpaged listing, token at a dir boundary") {
    // root children in order: a (dir), c (dir), f4 (file) — pageSize 1 puts
    // a page break exactly ON each dir boundary
    for (ps <- Seq(1, 2, 100)) {
      val walked = rows(Hierarchy.listStatusFsoWalk(children, "v",
        "b", "", pageSize = ps))
      val full = rows(Hierarchy.listStatusFso(children, "v", "b", ""))
      assert(walked === full, s"pageSize=$ps")
    }
    // a single mid-walk page: resumes STRICTLY after the token child and
    // still carries the full recursive rollup of the next dir
    val page = rows(Hierarchy.listStatusFso(children, "v", "b", "",
      startChild = "a", numEntries = Some(1)))
    assert(page === Seq(Seq("c", true, 1L, 30L), Seq("f4", false, 1L, 40L)))
  }

  test("listStatusFso over a stored path index spanning two buckets equals " +
    "the ladder: no phantom child from the other bucket") {
    // bucket b2 shares b's prefix `a` and adds a/x — a dir b does not have
    def id2(p: String) = Hierarchy.pathIdOf("v", "b2", p)
    val both = dirs.unionByName(Seq(
      ("v", "b2", id2("a"), 0L, "a"),
      ("v", "b2", id2("a/x"), id2("a"), "x"),
      ("v", "b2", id2("z"), 0L, "z"))
      .toDF("volume", "bucket", "dir_id", "parent_id", "name"))
    val index = Seq(("v", "b", id("a"), "a"), ("v", "b", id("a/b"), "a/b"),
      ("v", "b", id("c"), "c"), ("v", "b2", id2("a"), "a"),
      ("v", "b2", id2("a/x"), "a/x"), ("v", "b2", id2("z"), "z"))
      .toDF("volume", "bucket", "dir_id", "path")
    for (parent <- Seq("", "a")) {
      val ladder = rows(Hierarchy.listStatusFso(Hierarchy.childSummary(
          Hierarchy.resolveDirs(both.filter(col("bucket") === "b")), files),
        "v", "b", parent))
      val indexed = rows(Hierarchy.listStatusFso(
        Hierarchy.childSummary(index, files), "v", "b", parent))
      assert(indexed === ladder && ladder.nonEmpty, s"parent=$parent")
    }
  }

  test("a file at the bucket root: parent_id 0, listed under the root, " +
    "never an orphan") {
    // the same tree as `dirs`/`files`, as keys of a key table
    val keys = Seq(("a/f1", 10L), ("a/b/f2", 20L), ("c/f3", 30L), ("f4", 40L))
      .map { case (k, size) => ("v", "b", k, size) }
      .toDF("volume", "bucket", "key", "data_size")
      .withColumn("object_id", lit(0L)).withColumn("modification_time", lit(0L))
    val built = graft.core.Tables.filesFsoBuild(keys)
    assert(built.filter(col("name") === "f4").select("parent_id").as[Long]
      .collect().toSeq === Seq(0L))
    assert(Hierarchy.orphanFiles(dirs, built).isEmpty)
    // the key-derived summary and the FSO-table one list the same root
    val fromKeys = rows(Hierarchy.listStatusFso(
      Hierarchy.keyChildSummary(keys), "v", "b", ""))
    assert(fromKeys === rows(Hierarchy.listStatusFso(
      Hierarchy.childSummary(dirPaths, built), "v", "b", "")))
    assert(fromKeys.last === Seq("f4", false, 1L, 40L))
  }

  test("FSO and OBS listStatus agree on a 3-level tree (deep fixture)") {
    val sf = "/root/testdata/sf0.001"
    val fso = rows(Hierarchy.listStatusFso(Hierarchy.childSummary(
        Hierarchy.resolveDirs(graft.core.Tables.directoriesFsoDeep(spark, sf)
          .filter(col("volume") === "vol2" && col("bucket") === "bucket5")),
        graft.core.Tables.filesFsoDeep(spark, sf)),
      "vol2", "bucket5", "warehouse/R"))
    val obs = rows(graft.operators.Listing.listStatus(
        graft.core.Tables.objectsDeep(spark, sf), "vol2", "bucket5", "warehouse/R")
      .select("child", "is_dir", "num_files", "total_size"))
    assert(fso.nonEmpty)
    assert(fso === obs)
  }

  test("mkdir parents: mints exactly the absent ancestors, once per dir") {
    val sf = "/root/testdata/sf0.001"
    val got = Hierarchy.mkdirMissingParents(
      graft.core.Tables.mkdirRequests(spark, sf),
      graft.core.Tables.objects(spark, sf)).collect()
    val paths = got.map(r => (r.getString(0), r.getString(2))).toSeq
    // shared NEWTOP chain minted once; existing warehouse/A untouched;
    // root-level file and fully-existing chains contribute nothing
    assert(paths === Seq(
      ("vol0", "warehouse/A/newdir"),
      ("vol0", "warehouse/A/newdir/sub"),
      ("vol0", "warehouse/NEWTOP"),
      ("vol0", "warehouse/NEWTOP/x"),
      ("vol0", "warehouse/NEWTOP/x/y"),
      ("vol0", "warehouse/NEWTOP/x/z"),
      ("vol1", "warehouse/N/fresh")))
    // minted ids chain correctly: each dir's parent_id is either an
    // EXISTING dir's id or another minted dir's id
    val minted = got.map(r => r.getLong(3)).toSet
    val existingIds = Set(
      Hierarchy.pathIdOf("vol0", "bucket0", "warehouse"),
      Hierarchy.pathIdOf("vol0", "bucket0", "warehouse/A"),
      Hierarchy.pathIdOf("vol1", "bucket3", "warehouse/N"))
    got.foreach { r =>
      assert(minted.contains(r.getLong(4)) ||
        existingIds.contains(r.getLong(4)),
        s"dangling parent for ${r.getString(2)}")
    }
  }
}
