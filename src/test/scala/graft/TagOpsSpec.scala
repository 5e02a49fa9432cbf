package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.TagOps

class TagOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def fixtureCorpus(): String = {
    val dir = Files.createTempDirectory("graft-corpus").toFile
    dir.deleteOnExit()
    def write(name: String, content: String): Unit = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.writeString(f.toPath, content)
    }
    write("meta_a.json", """{"dataset": "fix", "tags": ["t1", "tA"]}""")
    write("meta_b.json", """{"dataset": "fix", "tags": ["t1"]}""")
    write("meta_c.json", """{"dataset": "fix", "tags": []}""")
    write("meta_d.json", """{"dataset": "fix"}""")
    write("labels_a.csv", "label,R,G,B\nCar,1,2,3\n") // must be ignored
    dir.getAbsolutePath
  }

  test("loadMetadata extracts ids, defaults empty/missing tags to untagged") {
    val df = TagOps.loadMetadata(spark, fixtureCorpus())
    val rows = df.collect().map(r =>
      r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(rows.keySet == Set("a", "b", "c", "d"))
    assert(rows("a") == List("t1", "tA"))
    assert(rows("b") == List("t1"))
    assert(rows("c") == List("untagged"))
    assert(rows("d") == List("untagged"))
  }

  test("loadMetadata: numeric tags read as strings; a non-array tags fails") {
    def corpus(files: (String, String)*): String = {
      val dir = Files.createTempDirectory("graft-meta").toFile
      dir.deleteOnExit()
      for ((name, json) <- files)
        Files.writeString(new java.io.File(dir, name).toPath, json)
      dir.getAbsolutePath
    }
    val rows = TagOps.loadMetadata(spark, corpus(
      "meta_n.json" -> """{"tags": [7, 2.5, true]}""",
      "meta_s.json" -> """{"tags": ["t1"]}"""))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(rows == Map("n" -> List("7", "2.5", "true"), "s" -> List("t1")))
    for (bad <- Seq("\"t1\"", "{\"t\": 1}")) {
      val df = TagOps.loadMetadata(spark, corpus(
        "meta_a.json" -> """{"tags": ["t1"]}""",
        "meta_bad.json" -> s"""{"tags": $bad}"""))
      val e = intercept[org.apache.spark.SparkException](df.collect())
      assert(e.getMessage.contains("meta_bad.json"), e.getMessage)
    }
  }

  test("andFilter keeps rows with ALL tags; orFilter with ANY tag") {
    val df = TagOps.loadMetadata(spark, fixtureCorpus())
    assert(TagOps.andFilter(df, Seq("t1", "tA"))
      .select("image_id").as[String].collect().toList == List("a"))
    assert(TagOps.orFilter(df, Seq("tA", "untagged"))
      .select("image_id").as[String].collect().sorted.toList
      == List("a", "c", "d"))
    // AND result is a subset of each single-tag filter
    val andIds = TagOps.andFilter(df, Seq("t1", "tA"))
      .select("image_id").as[String].collect().toSet
    val t1Ids = TagOps.andFilter(df, Seq("t1"))
      .select("image_id").as[String].collect().toSet
    assert(andIds.subsetOf(t1Ids))
  }

  test("joinSets dedups by key keeping the FIRST set's row") {
    val setA = Seq(("x", "fromA"), ("y", "fromA")).toDF("image_id", "origin")
    val setB = Seq(("y", "fromB"), ("z", "fromB")).toDF("image_id", "origin")
    val joined = TagOps.joinSets(Seq(setA, setB))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(joined == Map("x" -> "fromA", "y" -> "fromA", "z" -> "fromB"))
    // idempotent: joining a set with itself is the set
    val self = TagOps.joinSets(Seq(setA, setA))
    assert(self.count() == 2)
  }

  test("sampleExact returns exactly n deterministic rows from the input") {
    val df = (1 to 100).map(i => s"id_$i").toDF("image_id")
    val s1 = TagOps.sampleExact(df, 10, seed = 42)
      .select("image_id").as[String].collect().toList
    val s2 = TagOps.sampleExact(df, 10, seed = 42)
      .select("image_id").as[String].collect().toList
    assert(s1.size == 10 && s1 == s2)
    assert(s1.toSet.subsetOf(df.as[String].collect().toSet))
    val other = TagOps.sampleExact(df, 10, seed = 7)
      .select("image_id").as[String].collect().toList
    assert(other != s1) // overwhelmingly likely under a different seed
    // n > rows → whole input
    assert(TagOps.sampleExact(df, 1000, seed = 1).count() == 100)
  }

  test("pivotTags produces the wide boolean matrix") {
    val df = TagOps.loadMetadata(spark, fixtureCorpus())
    val wide = TagOps.pivotTags(df)
    assert(wide.columns.sorted.toList ==
      List("image_id", "t1", "tA", "untagged"))
    val a = wide.filter($"image_id" === "a").collect().head
    assert(a.getAs[Boolean]("t1") && a.getAs[Boolean]("tA")
      && !a.getAs[Boolean]("untagged"))
  }
}
