package graft.model

/** Typed row models for Dataset[T] paths where compile-time field checks
  * help (tests, streaming state logic). DataFrame is used where the
  * schema is dynamic. The daily job's star schema is not here: its
  * frames are [[graft.PriceCatcher]]'s and its stored DDL is
  * [[graft.sources.SqlitePacker.schema]]. */
object Rows {
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)
  case class Document(doc_id: Long, text: String, lang: String,
                      source: String, n_chars: Long)
  case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)
}
