package graft.registry

import org.apache.spark.sql.functions._

import graft.store.DocStore

import Artifacts._

/** Document-store verbs (SURVEY O2-O8, O15-O16): count, lookup,
  * pagination, delete, insert, stats, JSON metadata.
  */
private[graft] object StoreRows {

  val rows: Seq[Declared] = Seq(
    // ---- O5: global count --------------------------------------------
    Declared("count_documents", (s, dir) =>
      DocStore.countDocuments(docs(s, dir)),
      oracle = "SELECT COUNT(*) AS n_docs FROM documents"),

    // ---- O3: point lookup (predicate pushed to parquet) --------------
    Declared("point_lookup", (s, dir) =>
      DocStore.getDocument(docs(s, dir), "doc_id", 42L)
        .select("doc_id", "text", "lang", "source", "n_chars"),
      oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id = 42"),

    // ---- O6/O7: pagination without text ------------------------------
    Declared("list_page", (s, dir) =>
      DocStore.listDocuments(docs(s, dir), "doc_id", "doc_id",
        limit = 10, offset = 5, includeText = false)
        .select("doc_id", "lang", "source", "n_chars"),
      oracle = """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id DESC LIMIT 10 OFFSET 5""".stripMargin),

    // ---- O6+O8: pagination with truncated display text ---------------
    Declared("list_page_text", (s, dir) =>
      DocStore.listDocuments(docs(s, dir), "doc_id", "doc_id",
        limit = 10, offset = 5, includeText = true, maxTextLength = 100)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("display_text"), col("full_text_length").cast("long").as("full_text_length")),
      oracle = """SELECT doc_id, lang, source, n_chars,
        |  CASE WHEN length(text) > 100 THEN substr(text, 1, 100) || '...' ELSE text END AS display_text,
        |  CAST(length(text) AS BIGINT) AS full_text_length
        |FROM documents ORDER BY doc_id DESC LIMIT 10 OFFSET 5""".stripMargin),

    // ---- O4: delete as anti-join rewrite -----------------------------
    Declared("delete_docs", (s, dir) =>
      DocStore.deleteByIds(docs(s, dir), "doc_id", Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (1,2,3,5,8,13,21,34) ORDER BY doc_id""".stripMargin),

    // ---- O2: insert with dense id assignment after current max -------
    // assignIdsOrdered: parallel range-partitioned sort + zipWithIndex —
    // ids are still dense and text-ordered (the oracle's ROW_NUMBER OVER
    // (ORDER BY text)) but no single-partition global window is planned
    // (round-3 scale flag on the assignIds window form).
    Declared("insert_append", (s, dir) => {
      val d = docs(s, dir)
      val maxId = d.agg(max(col("doc_id"))).head.getLong(0)
      DocStore.assignIdsOrdered(d.filter(col("source") === "src1").select("text"),
          Seq(col("text")), maxId, "id")
        .select(col("id"), col("text"))
        .orderBy("id")
    },
      oracle = """SELECT (SELECT MAX(doc_id) FROM documents) + ROW_NUMBER() OVER (ORDER BY text) AS id, text
        |FROM documents WHERE source = 'src1' ORDER BY id""".stripMargin),

    // ---- O16: stats (relational twin) --------------------------------
    Declared("stats_table", (s, dir) =>
      DocStore.textStats(docs(s, dir), "text"),
      oracle = """SELECT COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        |  ROUND(AVG(length(text)), 6) AS avg_chars FROM documents""".stripMargin),

    // ---- O15: JSON metadata round-trip -------------------------------
    Declared("json_metadata", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          DocStore.packMetadata(col("lang").as("lang"), col("source").as("source")).as("metadata"))
        .withColumn("lang_rt", DocStore.metadataField(col("metadata"), "lang"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id,
        |  CAST(to_json(struct_pack(lang := lang, source := source)) AS VARCHAR) AS metadata,
        |  lang AS lang_rt
        |FROM documents ORDER BY doc_id""".stripMargin),
  )
}
