package graft

import java.sql.Timestamp

/**
 * Stage schemas for the KG-construction pipeline (FIXTURES.md §1/§3).
 *
 * The unit of work is a transcript *turn* — the analog of the reference's
 * fetched video record (reference: src/data/database.py:46-57), per the
 * target input hint `(conv_id, turn_idx, role, text, tool, ts)`.
 * All stage boundaries use explicit case-class encoders so schemas are
 * compile-time checked; at rest everything is Parquet (columnar).
 */
object Schemas {

  /** One transcript turn. `text` is verbatim (per-row parity invariant). */
  final case class Turn(
      conv_id: String,
      turn_idx: Int,
      role: String,
      text: String,
      tool: String,
      ts: Timestamp)

  /** A detected mention span within one turn's text.
    * Offsets are Java/UTF-16 code-unit indices into `text` (the engine's
    * native representation; codepoint/UTF-16 conversion helpers live in
    * [[graft.functions.PyText]] — reference: src/prod.py:20-24,
    * src/data/database.py:67-75). */
  final case class Mention(
      conv_id: String,
      turn_idx: Int,
      tag: String,
      text: String,
      start: Int,
      end: Int,
      detector: String,
      score: Double)

  /** Mention resolved to an entity id (gazetteer id or surface-form id). */
  final case class LinkedMention(
      conv_id: String,
      turn_idx: Int,
      tag: String,
      text: String,
      start: Int,
      end: Int,
      detector: String,
      score: Double,
      entity_id: String,
      link_score: Double)

  /** (subj, pred, obj) with provenance. */
  final case class Triple(
      subj: String,
      pred: String,
      obj: String,
      conv_id: String,
      turn_idx: Int,
      evidence: String)

  /** Canonicalized KG node. */
  final case class Node(
      node_id: String,
      canonical: String,
      `type`: String,
      aliases: Seq[String],
      n_mentions: Long)

  /** Canonicalized KG edge (triples rewritten onto node ids). */
  final case class Edge(
      src_id: String,
      pred: String,
      dst_id: String,
      conv_id: String,
      turn_idx: Int,
      evidence: String)

  /** One token with UTF-16 offsets into the turn text. */
  final case class Token(tok: String, start: Int, end: Int)

  /** Per-turn decoded entities, still nested (row-local through dedup). */
  final case class DecodedTurn(
      conv_id: String,
      turn_idx: Int,
      role: String,
      tool: String,
      text: String,
      entities: Seq[Entity])

  /** A decoded entity span (reference: src/prod.py:72-79). */
  final case class Entity(tag: String, text: String, start: Int, end: Int)
}
