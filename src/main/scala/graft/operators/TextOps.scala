package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text / id operators restating the reference's scalar surface (SURVEY.md
 * §2.7) for training-data pipelines.
 */
object TextOps {

  /** C2: deterministic content-location ids — "doc:" + base64url(path)
    * (reference: scanner.ts:63; decode at indexing/pipeline.ts:326-329).
    * base64url = base64 with +/ -> -_ and padding stripped. */
  def docId(path: Column): Column =
    concat(lit("doc:"),
      regexp_replace(translate(base64(path.cast("binary")), "+/", "-_"), "=+$", ""))

  /** C3: sliding-window chunker (reference: indexing/chunker.ts:13-46):
    * tokens -> windows of `size` stepping `size - overlap`; emits
    * (doc pk, chunk_index, chunk_text, start_token, end_token).
    * Chunk id = "chunk:{doc}:{index}" (chunker.ts:28). Pure narrow op:
    * posexplode, no shuffle. */
  def chunk(df: DataFrame, textCol: String, keyCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(overlap < size, "overlap must be < size")
    val step = size - overlap
    df.withColumn("__toks", split(col(textCol), " "))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__toks")))
      .withColumn("__starts", sequence(lit(0),
        greatest(lit(0), floor((col("__n") - 1) / step) * step), lit(step)))
      .select(col(keyCol), col("__toks"), col("__n"),
        posexplode(col("__starts")).as(Seq("chunk_index", "__start")))
      .filter(col("__start") === 0 || col("__start") < col("__n"))
      .select(
        concat(lit("chunk:"), col(keyCol), lit(":"), col("chunk_index")).as("chunk_id"),
        col(keyCol),
        col("chunk_index").cast("long").as("chunk_index"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(size)), " ").as("chunk_text"),
        col("__start").cast("long").as("start_token"),
        least(col("__start") + size, col("__n")).cast("long").as("end_token"))
  }

  /** A7/W5: entity-hit score boost + rerank (reference:
    * querying/pipeline.ts:129-139): hits = count of known terms contained in
    * the text; score = base * (1 + 0.1 * hits), re-sorted. The term list is
    * a broadcast-style literal array (J6 known-entity context). */
  def boostRerank(df: DataFrame, textCol: String, baseScore: Column,
      terms: Seq[String], k: Int): DataFrame = {
    val hits = terms.map(t =>
      when(col(textCol).contains(t), 1).otherwise(0).cast("long")).reduce(_ + _)
    df.withColumn("hits", hits)
      .withColumn("score", round(baseScore * (lit(1.0) + lit(0.1) * col("hits")), 4))
  }

  /** Hybrid mode dispatch (reference querying/pipeline.ts:166-173): merge a
    * vector-retrieval list and a keyword-retrieval list, local-priority, with
    * first-seen dedup on id. Inputs are best-first ranked frames
    * (id, rk with rk = 1-based rank), already cut to their weight-split
    * sizes (ceil(w*k) local / k - that global). Output:
    * (final_rank, id, src) with final_rank re-numbered over the concat
    * order (all local hits, then surviving global hits). Driver-free: two
    * window functions over <= k rows. */
  def hybridMerge(local: DataFrame, global: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = local.select(col("id"), col("rk"), lit(0).as("prio"), lit("local").as("src"))
    val g = global.select(col("id"), col("rk"), lit(1).as("prio"), lit("global").as("src"))
    val u = l.unionByName(g)
    val firstSeen = Window.partitionBy(col("id")).orderBy(col("prio"), col("rk"))
    // lit(1) partition: the frame holds <= k rows (both inputs are already
    // weight-split cut), and it silences the single-partition WindowExec WARN.
    val finalOrder = Window.partitionBy(lit(1)).orderBy(col("prio"), col("rk"), col("id"))
    u.withColumn("rn", row_number().over(firstSeen)).filter(col("rn") === 1)
      .withColumn("final_rank", row_number().over(finalOrder).cast("long"))
      .select(col("final_rank"), col("id"), col("src"))
  }

  /** C10 schema carrier (reference core/src/schema.ts): field maps are
    * ordered pair lists so the rendered JSON is deterministic. */
  case class PromptSchema(
      entityTypes: Seq[String],
      relationTypes: Seq[String],
      entityFields: Seq[(String, String)] = Nil,
      relationFields: Seq[(String, String)] = Nil)

  /** C10: the reference's extraction-prompt template
    * (core/src/prompt.ts:6-59) as a codegen'd column expression. The LLM
    * CALL stays out of scope; prompt-DATASET construction is a
    * deterministic string operation the engine runs at scale (the template
    * is constant around the content, so the column is one `concat` —
    * whole-stage codegen, zero UDFs, no shuffle). */
  def extractionPrompt(content: Column, knownEntities: Seq[String],
      schema: PromptSchema): Column = {
    val (prefix, suffix) = extractionPromptParts(knownEntities, schema)
    concat(lit(prefix), content, lit(suffix))
  }

  /** The constant text before/after the content slot — exposed so oracles
    * (and non-Spark callers) can rebuild the identical prompt. Mirrors
    * prompt.ts line for line, including JSON.stringify's spaceless
    * rendering of the custom-field maps. */
  def extractionPromptParts(knownEntities: Seq[String],
      schema: PromptSchema): (String, String) = {
    def json(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val entityTypes = schema.entityTypes.mkString(", ")
    val relationTypes = schema.relationTypes.mkString(", ")
    val knownEntitiesList =
      if (knownEntities.nonEmpty)
        s"\n\nKnown entities to reference: ${knownEntities.mkString(", ")}"
      else ""
    val entityFieldsDef =
      if (schema.entityFields.nonEmpty)
        s"\n\nEntity custom fields: ${json(schema.entityFields)}"
      else ""
    val relationFieldsDef =
      if (schema.relationFields.nonEmpty)
        s"\n\nRelation custom fields: ${json(schema.relationFields)}"
      else ""
    val fieldsInstruction =
      if (entityFieldsDef.nonEmpty || relationFieldsDef.nonEmpty)
        "\nInclude a \"fields\" object in each entity/relation with the custom field values when applicable."
      else ""
    val entityFieldsSlot = if (entityFieldsDef.nonEmpty) ",\n      \"fields\": {}" else ""
    val relationFieldsSlot = if (relationFieldsDef.nonEmpty) ",\n      \"fields\": {}" else ""
    val prefix =
      s"""Extract entities and relations from the following content.
         |
         |Entity types: $entityTypes
         |Relation types: $relationTypes$knownEntitiesList$entityFieldsDef$relationFieldsDef
         |
         |Content:
         |""".stripMargin
    val suffix =
      s"""
         |
         |Return a JSON object with this structure:
         |{
         |  "entities": [
         |    {
         |      "name": "entity name",
         |      "type": "entity type from the list above, or 'Other' if not matching",
         |      "description": "brief description of the entity"$entityFieldsSlot
         |    }
         |  ],
         |  "relations": [
         |    {
         |      "source": "source entity name",
         |      "target": "target entity name",
         |      "type": "relation type from the list above",
         |      "description": "description of the relationship",
         |      "keywords": ["keyword1", "keyword2"]$relationFieldsSlot
         |    }
         |  ]
         |}
         |
         |Focus on technical entities and their relationships. Be precise and avoid duplicates.$fieldsInstruction""".stripMargin
    (prefix, suffix)
  }
}
