package graft

import graft.core.SessionMemo

class SessionMemoSpec extends SparkSpec {
  // the memo never reads the dir; it is only part of the key
  private val dir = "memo-spec-dir"

  test("session memo: one build per (session, dir, kind)") {
    var builds = 0
    def build(): Int = { builds += 1; builds }
    assert(SessionMemo(spark, dir, "spec/once")(build()) == 1)
    assert(SessionMemo(spark, dir, "spec/once")(build()) == 1)
    assert(builds == 1)
    // a new session shares the SparkContext but not the memo entries
    val other = spark.newSession()
    assert(SessionMemo(other, dir, "spec/once")(build()) == 2)
    assert(SessionMemo(other, dir, "spec/once")(build()) == 2)
    // a second kind under the same (session, dir) gets its own value
    assert(SessionMemo(spark, dir, "spec/twice")(build()) == 3)
    assert(SessionMemo(spark, dir, "spec/once")(build()) == 1)
    assert(builds == 3)
  }

  test("session memo: a build that throws stores nothing") {
    var builds = 0
    intercept[IllegalStateException] {
      SessionMemo[Int](spark, dir, "spec/failing") {
        builds += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(SessionMemo(spark, dir, "spec/failing") { builds += 1; 7 } == 7)
    assert(SessionMemo(spark, dir, "spec/failing") { builds += 1; 8 } == 7)
    assert(builds == 2)
  }
}
