package graft.model

import java.sql.Timestamp

/** Core typed row shapes of the KG-construction pipeline.
  *
  * Schemas mirror the reference's implicit record shapes (see
  * /root/reference/pre_labeling.py:4-16 and EnsemblePredict_all.py:19-48)
  * re-expressed as case classes so Spark derives product Encoders and the
  * whole pipeline stays in the Dataset/Catalyst world.
  *
  * Span convention: ALL spans are [start, end) end-EXCLUSIVE. The reference
  * mixes end-inclusive ner spans with end-exclusive seg spans and patches it
  * late (generation.py:35-62); we normalize at the boundary instead
  * (see [[graft.ner.Spans.normalize]]).
  */

/** Input page row — the Common-Crawl-style input table (BASELINE.json input_hint):
  * (url, warc_ts, html binary, text, lang). `text` is the expected extraction
  * output used for the byte-identity invariant; the engine recomputes it from
  * `html` and must match byte-for-byte.
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** One structured section of a page: the output of the section DFA
  * (reference analog: structurize_files.py:548-597 chapter/section split and
  * :114-274 content-block extraction).
  *
  * @param book       source document name (here: derived from url)
  * @param location   "部分|章|节" section path
  * @param paragraph  section kind — becomes the triple predicate
  * @param headEntity the head (subject) entity this section is about
  * @param content    raw text of the block
  */
final case class Section(
    url: String,
    book: String,
    location: String,
    paragraph: String,
    headEntity: String,
    headType: String,
    content: String,
    source: String
)

/** One sentence with lineage; `ind` is a deterministic 63-bit id
  * (xxhash64 of url|location|paragraph|ordinal) — stable across runs and
  * resumes, unlike the reference's positional ids (clean_and_save.py:1078-1080).
  */
final case class SentenceRow(
    url: String,
    book: String,
    location: String,
    paragraph: String,
    sentence: String,
    entity1: String,
    entity1Type: String,
    source: String,
    ind: Long
)

/** Gazetteer token: [word, tag, [start, end)) — reference seg element
  * (pre_labeling.py:88-96). `tag` is either a 2-letter jieba-style code or an
  * uppercase ontology type once merged (clean_and_save.py:170-172).
  */
final case class Token(word: String, tag: String, start: Int, end: Int)

/** Model/ensemble mention: [word, TYPE, [start, end), [pmin, pmax]]
  * (multi_source_ner.py:836-843). Spans normalized end-exclusive.
  */
final case class Mention(
    word: String,
    tpe: String,
    start: Int,
    end: Int,
    pmin: Double,
    pmax: Double
)

/** Fully annotated sentence — the enriched record of
  * EnsemblePredict_all.py:19-48 carrying gazetteer tokens, per-model
  * mentions and the ensemble result.
  */
final case class AnnotatedSentence(
    url: String,
    book: String,
    location: String,
    paragraph: String,
    sentence: String,
    entity1: String,
    entity1Type: String,
    source: String,
    ind: Long,
    seg: Seq[Token],
    ensemble: Seq[Mention]
)

/** One extracted entity occurrence with provenance + confidence — the
  * extraction-results row (EnsemblePredict_all.py:582-585 /
  * clean_and_save.py:483-508).
  */
final case class EntityRow(
    ind: Long,
    model: String,
    entName: String,
    entType: String,
    start: Int,
    end: Int,
    prob: Double,
    probPartial: Double,
    probExact: Double,
    probType: Double
)

/** Emitted knowledge triple: subj = head entity, pred = section kind or
  * explicit relation, obj = mention (clean_and_save.py:1140-1188 source_segment
  * × :1306-1320 ner_result joined on text_id=ind).
  */
final case class Triple(
    subj: String,
    subjType: String,
    pred: String,
    obj: String,
    objType: String,
    ind: Long,
    prob: Double
)
