package graft.frontier

import java.nio.file.{Files, Paths}
import graft.SparkTestBase

class FrontierStoreSpec extends SparkTestBase {
  import spark.implicits._

  test("gc skips a stray round=* directory that is not a round number") {
    val root = Files.createTempDirectory("graft-store-gc").toString
    val store = new FrontierStore(spark, root)
    for (r <- 0 to 3)
      store.writeRound(r, Seq((r.toLong, s"u$r")).toDF("urlHash", "url"),
        Seq(r.toLong).toDF("urlHash"), Seq((r, s"u$r")).toDF("round", "canonUrl"))
    val stray = Paths.get(root, "frontier", "round=tmp")
    Files.createDirectories(stray)
    Files.write(stray.resolve("part-0"), Array[Byte](1, 2, 3))

    store.gc(retainFrontiers = 1)

    for (r <- 0 to 2) assert(!Files.exists(Paths.get(root, "frontier", s"round=$r")))
    assert(Files.exists(Paths.get(root, "frontier", "round=3")))
    assert(Files.exists(stray.resolve("part-0")), "a stray dir is not the store's to delete")
    assert(store.readFrontier(3).as[(Long, String)].collect().toSeq == Seq((3L, "u3")))
  }
}
