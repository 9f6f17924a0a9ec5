package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SFT chat-template rendering + the TOKEN-level loss-mask boundary —
  * the piece of an instruction-tuning pipeline between raw
  * (prompt, response) pairs and the aligned emitter: render the pair
  * into one training document and report where the loss mask starts,
  * in the SAME token units the emitted `input_ids` use.
  *
  * The boundary is exact, not estimated: under the byte-level BPE the
  * GPT-2 pretokenizer NEVER forms a pretoken across the junction
  * between the prefix's final `>` and the response's leading space
  * (a space always starts a new ` word` pretoken), and merges never
  * cross pretokens — so `encodeIds(prefix)` is a strict prefix of
  * `encodeIds(rendered)` and its LENGTH is the first response-token
  * index. A trainer masks `input_ids[0, loss_start)` and trains on the
  * rest; under the document-aligned emitter the per-sequence boundary
  * is `bin_offset + loss_start`. */
object Sft {

  val UserTag = "<|user|>"
  val AssistantTag = "<|assistant|>"

  /** The chat tags as RESERVED special tokens (r13): pass to
    * [[Bpe.fit]]/[[Bpe.encodeIdsCol]]/[[Bpe.decodeIdsCol]] so each
    * tag is ONE dedicated id above the text vocabulary — never split
    * into byte-level fragments, never merged with adjacent text, and a
    * document containing the literal tag string still encodes it to the
    * same reserved id (so a trainer can mask/strip them reliably). */
  val Specials: Seq[String] = Seq(UserTag, AssistantTag)

  /** The rendered training document: `<|user|> prompt <|assistant|>`
    * + ` response`. The prefix deliberately carries NO trailing space —
    * the response's separating space belongs to the response's first
    * pretoken, which is what makes [[lossStart]] exact. */
  def render(prompt: Column, response: Column): Column =
    concat(renderPrefix(prompt), lit(" "), response)

  /** The masked prefix alone (no trailing space — see [[render]]). */
  def renderPrefix(prompt: Column): Column =
    concat(lit(UserTag + " "), prompt, lit(" " + AssistantTag))

  /** First response-token index of [[render]]'s output under a
    * byte-level merge table: the id-count of the rendered prefix.
    * Codegen'd narrow map (one BpeEncodeExpr pass over the prefix). */
  def lossStart(prompt: Column, merges: Seq[Bpe.Merge]): Column =
    size(Bpe.encodeIdsCol(renderPrefix(prompt), merges))

  /** [[lossStart]] under a specials-aware table ([[Specials]] reserved
    * ids): still exact, now by CONSTRUCTION rather than the
    * pretokenizer-junction argument — the rendered document's id stream
    * is `[user_id] ⧺ ids(' ' + prompt + ' ') ⧺ [assistant_id] ⧺
    * ids(' ' + response)` (specials segment atomically before
    * pretokenization), and the prefix's stream is exactly the first
    * three blocks, so `encodeIds(prefix)` is a strict prefix of
    * `encodeIds(rendered)` for ANY prompt/response, tags-in-text
    * included. */
  def lossStart(prompt: Column, merges: Seq[Bpe.Merge],
      specials: Seq[String]): Column =
    size(Bpe.encodeIdsCol(renderPrefix(prompt), merges, specials))
}
