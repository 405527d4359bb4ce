package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.{Commit, Snapshot, SnapshotLog, TableState}

/** The one commit loop, driven directly over hand-built log states (no
  * Spark): the retry bound, and the three conflict rules against each
  * kind of racing commit. */
class CommitLoopSpec extends AnyFunSuite {

  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  private def freshTable(): Path =
    new Path(Files.createTempDirectory("commitloop").toUri)

  private def seed(dir: Path, st: TableState): Unit =
    Commit.claim(fs, dir, "seed")(_ => Some(st))

  private def snap(id: Long, op: String, parent: Long,
                   manifests: Seq[String], deletes: Seq[String] = Seq.empty) =
    Snapshot(id, id, op, manifests, manifests.size.toLong, 10L * id, id,
      parentId = parent, deleteManifests = deletes,
      deleteFileCount = Some(deletes.size.toLong), eqDeleteFileCount = Some(0L))

  test("a claim that loses every race gives up after the bound, naming the op") {
    val dir = freshTable()
    seed(dir, TableState(Seq(snap(1, "append", -1, Seq("m1")))))
    var attempts = 0
    val e = intercept[IllegalStateException](
      Commit.claim(fs, dir, "expire_snapshots") { st =>
        attempts += 1
        // a competing writer claims the next version first, every time
        val (v, cur) = SnapshotLog.readState(fs, dir)
        assert(SnapshotLog.tryWriteState(fs, dir, v, cur))
        Some(st.copy(snapshots = Seq.empty))
      })
    assert(attempts == Commit.MaxAttempts)
    assert(e.getMessage.contains("expire_snapshots"), e.getMessage)
    assert(SnapshotLog.readState(fs, dir)._2.snapshots.map(_.snapshotId) ==
      Seq(1L), "no attempt of the losing writer may land")
  }

  test("each conflict rule composes with or refuses each racing commit") {
    val s1 = snap(1, "append", -1, Seq("m1"))
    val basis = snap(2, "append", 1, Seq("m1", "m2"))
    val planned = TableState(Seq(s1, basis))
    // the log state each racing commit leaves behind
    val racing = Seq(
      "nothing" -> planned,
      "append" -> planned.copy(snapshots = planned.snapshots :+
        snap(3, "append", 2, Seq("m1", "m2", "m3"))),
      "MOR delete" -> planned.copy(snapshots = planned.snapshots :+
        snap(3, "delete", 2, Seq("m1", "m2"), Seq("d3"))),
      "optimize" -> planned.copy(snapshots = planned.snapshots :+
        snap(3, "optimize", 2, Seq("m-opt"))),
      // a ref move lands no snapshot
      "rollback" -> planned.copy(refs = Map("main" -> 1L)))
    val rules: Seq[(String, Commit.Conflict, Set[String])] = Seq(
      // (rule, the racing commits it composes with)
      ("none", Commit.Composes, racing.map(_._1).toSet),
      ("only appends since the basis", Commit.AppendsSince(basis),
        Set("nothing", "append")),
      ("the head is the basis", Commit.HeadIs(Some(basis)), Set("nothing")))
    for ((ruleName, rule, composes) <- rules; (raceName, race) <- racing) {
      val dir = freshTable()
      seed(dir, race)
      val (v0, st0) = SnapshotLog.readState(fs, dir)
      val attempt = scala.util.Try(
        Commit.snapshot(fs, dir, "probe", "main", rule) { (id, head) =>
          head.get.carried(id, "probe", 0L)
        })
      val (v1, st1) = SnapshotLog.readState(fs, dir)
      val what = s"rule '$ruleName' against a racing $raceName"
      if (composes(raceName)) {
        assert(attempt.isSuccess, s"$what must compose: $attempt")
        assert(v1 == v0 + 1, s"$what: one version claimed")
        val racingHead = st0.head("main").get
        val head = st1.head("main").get
        assert(head.operation == "probe" &&
          head.snapshotId == st0.snapshots.map(_.snapshotId).max + 1 &&
          head.parentId == racingHead.snapshotId &&
          head.manifests == racingHead.manifests &&
          head.deleteManifests == racingHead.deleteManifests,
          s"$what: the successor is carried from the fresh head")
      } else {
        assert(attempt.failed.toOption
          .exists(_.isInstanceOf[IllegalArgumentException]),
          s"$what must refuse: $attempt")
        assert(attempt.failed.get.getMessage.contains("probe"),
          s"$what: the refusal names the op")
        assert(v1 == v0 && st1 == st0, s"$what: a refused claim writes no version")
      }
    }
  }
}
