package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.util.Artifacts

/** The build-once artifact module's three keying rules: on-disk entries
  * are shared across sessions, in-session entries never cross sessions
  * and die with their session, latest-stamp entries release what they
  * replace. Data-dir keys are unique per test so entries never collide
  * with the query harness's. */
class ArtifactsSpec extends SparkSpec {

  private def dataDir(tag: String): String =
    s"artifacts-spec-$tag-${System.nanoTime()}"

  test("an on-disk entry is built once and reused from a new session") {
    val d = dataDir("disk")
    var builds = 0
    def read(s: SparkSession): DataFrame =
      Artifacts.parquet(s, d, "spec-ids") {
        builds += 1
        s.range(5).toDF("id")
      }
    assert(read(spark).count() === 5)
    val other = spark.newSession()
    val again = read(other)
    assert(again.sparkSession eq other)
    assert(again.count() === 5)
    assert(builds === 1)
  }

  test("an in-session entry is rebuilt for a new session and never " +
      "served across sessions") {
    val d = dataDir("session")
    var builds = 0
    def df(s: SparkSession): DataFrame =
      Artifacts.inSession(s, d, "spec-df") {
        builds += 1
        s.range(3).toDF("id")
      }
    val mine = df(spark)
    val other = spark.newSession()
    val theirs = df(other)
    assert(builds === 2)
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(df(spark) eq mine)
    assert(df(other) eq theirs)
    assert(builds === 2)
    // checkpoints follow the same rule: one per session
    val cp = Artifacts.checkpointed(other, d, "spec-cp")(
      other.range(4).toDF("id"))
    assert(cp.sparkSession eq other)
    assert(Artifacts.checkpointed(other, d, "spec-cp")(
      fail("checkpoint rebuilt")) eq cp)
    assert(!(Artifacts.checkpointed(spark, d, "spec-cp")(
      spark.range(4).toDF("id")) eq cp))
  }

  test("a dead session's entries are dropped while the live session's " +
      "stay") {
    val d = dataDir("sweep")
    var builds = Map.empty[String, Int]
    def count(s: SparkSession, who: String): Long =
      Artifacts.inSession(s, d, "spec-n") {
        builds += who -> (builds.getOrElse(who, 0) + 1)
        s.range(7).count()
      }
    val other = spark.newSession()
    count(spark, "live")
    count(other, "dead")
    // the shared test context must stay up, so name the dead session
    // instead of stopping it
    Artifacts.sweep(_ eq other)
    count(spark, "live")
    count(other, "dead")
    assert(builds === Map("live" -> 1, "dead" -> 2))
  }

  test("the latest-stamp memo keeps one stamp and unpersists the entry " +
      "it replaces") {
    var released = List.empty[DataFrame]
    val memo = new Artifacts.LatestStamp[DataFrame](df => {
      released ::= df
      df.unpersist(blocking = true)
    })
    val v1 = memo("1", "a")(spark.range(10).toDF("id").persist())
    v1.count()
    val v1b = memo("1", "b")(spark.range(3).toDF("id"))
    assert(v1.storageLevel.useMemory)
    assert(memo("1", "a")(fail("rebuilt under the same stamp")) eq v1)
    assert(memo.entries.size === 2, "tags of one stamp coexist")
    val v2 = memo("2", "a")(spark.range(5).toDF("id"))
    assert(released.size === 2 && released.exists(_ eq v1) &&
      released.exists(_ eq v1b))
    assert(v1.storageLevel === StorageLevel.NONE)
    assert(memo.entries.keySet === Set(("2", "a")))
    assert(memo("2", "a")(fail("rebuilt")) eq v2)
  }
}
