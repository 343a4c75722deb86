package graft

/** Core data model of the engine (SURVEY.md §1.2).
  *
  * Mirrors the reference's `DocumentChunk` (reference: types.ts:133-148):
  * one embedded retrieval unit with breadcrumb metadata. Flattened to one
  * case class (rather than nested structs) because the store/query layer is
  * column-oriented; `Dataset[Chunk]` gives typed transforms where useful.
  */
final case class Chunk(
    content: String,
    product_name: String,
    version: String,
    branch: Option[String],
    repo: Option[String],
    heading_hierarchy: Seq[String],
    section: String,
    chunk_id: String, // sha256(content) prose / sha256(url+"::"+content) code
    url: String,
    hash: String, // content hash for change detection
    chunk_index: Int,
    total_chunks: Int
)

/** A raw input document before normalization/chunking (FIXTURES.md §1). */
final case class RawDoc(
    url: String,
    product_name: String,
    version: String,
    source_type: String, // website | github | zendesk | local_directory | code | s3
    format: String,      // md | html | pdf | doc | docx | <code ext>
    content: String,
    modification_time: java.sql.Timestamp
)
