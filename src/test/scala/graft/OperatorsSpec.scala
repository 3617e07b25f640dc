package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, TextOps}

class OperatorsSpec extends GraftSuite {
  import spark.implicits._

  test("doc ids roundtrip: path -> base64url id -> path") {
    val df = Seq("a/b.txt", "nested/dir/file name.md", "weird?&chars")
      .toDF("path")
      .withColumn("id", TextOps.docId(col("path")))
    df.collect().foreach { r =>
      val back = new String(java.util.Base64.getUrlDecoder.decode(
        r.getString(1).stripPrefix("doc:")), java.nio.charset.StandardCharsets.UTF_8)
      assert(back == r.getString(0), s"roundtrip failed for ${r.getString(0)}")
      assert(r.getString(1).startsWith("doc:"))
      assert(!r.getString(1).contains("=") && !r.getString(1).contains("+") &&
        !r.getString(1).contains("/"))
    }
  }

  test("chunker windows cover all tokens with the right overlap") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val chunks = TextOps.chunk(df, "text", "doc_id", size = 32, overlap = 8)
      .orderBy("chunk_index").collect()
    assert(chunks.length == 5) // starts 0,24,48,72,96
    assert(chunks.head.getAs[String]("chunk_id") == "chunk:7:0")
    assert(chunks.head.getAs[Long]("start_token") == 0L)
    assert(chunks.head.getAs[Long]("end_token") == 32L)
    assert(chunks.head.getAs[String]("chunk_text").split(" ").length == 32)
    assert(chunks.last.getAs[Long]("start_token") == 96L)
    assert(chunks.last.getAs[Long]("end_token") == 100L)
    assert(chunks.last.getAs[String]("chunk_text") == "t97 t98 t99 t100")
    // Consecutive chunks overlap by 8 tokens.
    val c0 = chunks(0).getAs[String]("chunk_text").split(" ")
    val c1 = chunks(1).getAs[String]("chunk_text").split(" ")
    assert(c0.takeRight(8).toSeq == c1.take(8).toSeq)
  }

  test("mergeNodes: longest description, chunk union, edge redirect with self-loop skip and dedup") {
    // Mirrors the reference mergeEntities test semantics
    // (createFlowRAG.ts:51-119): apple+apples merge into apple.
    val nodes = Seq(
      ("apple", "fruit", "short", Seq("c1", "c2")),
      ("apples", "fruit", "a much longer description", Seq("c2", "c3")),
      ("banana", "fruit", "other", Seq("c9")))
      .toDF("id", "type", "description", "chunk_ids")
    val edges = Seq(
      ("apple", "banana", "pairs-with"),
      ("apples", "banana", "pairs-with"), // duplicate after redirect
      ("apple", "apples", "same-as"),     // becomes a self-loop: dropped
      ("banana", "apples", "likes"))
      .toDF("src", "dst", "type")
    val (n2, e2) = GraphOps.mergeNodes(nodes, edges, Seq("apple", "apples"), "apple")
    assert(n2.count() == 2)
    val m = n2.filter(col("id") === "apple").collect()
    assert(m.length == 1)
    assert(m.head.getString(1) == "fruit")
    assert(m.head.getString(2) == "a much longer description") // A6 longest-wins
    assert(m.head.getSeq[String](3) == Seq("c1", "c2", "c3")) // A5 set union
    val es = e2.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(es == Set(("apple", "banana", "pairs-with"), ("banana", "apple", "likes")))

    // Unknown sources: a no-op, as in the reference (sourceEntities empty).
    val (n3, e3) = GraphOps.mergeNodes(nodes, edges, Seq("zzz"), "zzz-target")
    assert(n3.count() == 3 && e3.count() == 4)
    // ... including when the TARGET exists: the no-op must not delete it.
    val (n4, _) = GraphOps.mergeNodes(nodes, edges, Seq("ghost"), "apple")
    assert(n4.count() == 3 && n4.filter(col("id") === "apple").count() == 1)
  }

  test("mergeNodes keeps dangling (null-endpoint) edges untouched") {
    val nodes = Seq(("a", "x"), ("b", "y"), ("c", "z")).toDF("id", "description")
    val edges = Seq(("a", null.asInstanceOf[String], "dangling"),
      ("b", "c", "knows")).toDF("src", "dst", "type")
    val (_, e2) = GraphOps.mergeNodes(nodes, edges, Seq("b"), "a")
    val es = e2.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // The null-dst edge is not a self-loop and must survive; b's edge redirects.
    assert(es == Set(("a", null, "dangling"), ("a", "c", "knows")))
  }

  test("mergeNodes: carried edge attrs dedup deterministically, untouched edges win") {
    // Merge b INTO a (target outside the source set): a's own edge is
    // untouched; b's edges redirect and may collide with it.
    val nodes = Seq(("a", "x"), ("b", "yyy"), ("c", "z")).toDF("id", "description")
    val edges = Seq(
      ("a", "c", "knows", 0.9), // untouched
      ("b", "c", "knows", 0.2), // redirects to (a, c, knows): collision
      ("c", "b", "cites", 0.7)) // redirects to (c, a, cites)
      .toDF("src", "dst", "type", "weight")
    val (n2, e2) = GraphOps.mergeNodes(nodes, edges, Seq("b"), "a")
    assert(n2.count() == 2)
    // The merged node replaces the pre-existing target (reference addEntity
    // upsert): its description comes from the merged set (only b here).
    assert(n2.filter(col("id") === "a").head().getString(1) == "yyy")
    val es = e2.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getDouble(3))).toSet
    // (a,c,knows): the untouched 0.9 edge wins over the redirected 0.2
    // (prio 0 < 1), deterministic regardless of partition order.
    assert(es == Set(("a", "c", "knows", 0.9), ("c", "a", "cites", 0.7)))
  }

  test("mergeNodes: redirected dangling edge dedups against an identical untouched NULL-endpoint edge") {
    val nodes = Seq(("a", "x"), ("b", "y")).toDF("id", "description")
    val edges = Seq(
      ("a", null.asInstanceOf[String], "dangling"), // untouched, passes through
      ("b", null.asInstanceOf[String], "dangling")) // redirects to (a, NULL, dangling)
      .toDF("src", "dst", "type")
    // The anti-join must be null-safe: the redirected copy's natural key
    // equals the untouched edge's (NULL dst and all), so exactly one
    // (a, NULL, dangling) edge survives — a plain equi-anti-join would
    // never match on the NULL key and emit a duplicate.
    val (_, e2) = GraphOps.mergeNodes(nodes, edges, Seq("b"), "a")
    val es = e2.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(es.toSeq == Seq(("a", null, "dangling")), s"got ${es.toSeq}")
  }

  test("mergeNodes: dedup is scoped to redirected edges; unrelated duplicates and NULL-id nodes survive") {
    val nodes = Seq(("a", "x"), ("b", "y"), ("c", "z"), ("d", "w"),
      (null.asInstanceOf[String], "anon")).toDF("id", "description")
    val edges = Seq(
      ("c", "d", "knows"), // pre-existing duplicate pair between
      ("c", "d", "knows"), //   nodes UNRELATED to the merge: both survive
      ("b", "d", "knows"), // redirects to (a, d, knows)
      ("b", "d", "knows")) // ... duplicate redirected copy: deduped
      .toDF("src", "dst", "type")
    val (n2, e2) = GraphOps.mergeNodes(nodes, edges, Seq("b"), "a")
    // NULL-id node is neither source nor target — must not be dropped by a
    // null-valued isin predicate.
    assert(n2.filter(col("id").isNull).count() == 1)
    assert(n2.count() == 4) // a(merged), c, d, null
    val es = e2.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(es.count(_ == ("c", "d", "knows")) == 2,
      s"unrelated duplicate edges must pass through verbatim: ${es.toSeq}")
    assert(es.count(_ == ("a", "d", "knows")) == 1,
      s"redirected copies dedup to one: ${es.toSeq}")
    assert(es.length == 3)
  }

  test("extraction prompt template mirrors the reference's structure") {
    import graft.operators.TextOps.{extractionPrompt, extractionPromptParts, PromptSchema}
    val plain = extractionPromptParts(Nil, PromptSchema(Seq("A"), Seq("r")))
    assert(plain._1.startsWith("Extract entities and relations"))
    assert(!plain._1.contains("Known entities"))
    assert(!plain._2.contains("\"fields\": {}"))
    val full = extractionPromptParts(Seq("k1", "k2"),
      PromptSchema(Seq("A", "B"), Seq("r1", "r2"),
        entityFields = Seq("prio" -> "string"),
        relationFields = Seq("w" -> "number")))
    assert(full._1.contains("Known entities to reference: k1, k2"))
    assert(full._1.contains("""Entity custom fields: {"prio":"string"}"""))
    assert(full._1.contains("""Relation custom fields: {"w":"number"}"""))
    assert(full._2.contains("\"fields\": {}"))
    assert(full._2.contains("Include a \"fields\" object"))
    val p = Seq("THE CONTENT").toDF("text")
      .select(extractionPrompt(col("text"), Seq("k1"),
        PromptSchema(Seq("A"), Seq("r"))).as("p"))
      .head().getString(0)
    assert(p.contains("Content:\nTHE CONTENT\n\nReturn a JSON object"))
    assert(p.endsWith("Be precise and avoid duplicates."))
  }
}
