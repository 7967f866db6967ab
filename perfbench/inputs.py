"""Seeded input generators.  The same seed gives the same tables.

* :func:`corpus` — documents in the ``documents.parquet`` shape
  (doc_id, text, lang, source, n_chars), with the length, language and
  near-duplicate shares measured in the repository's sf0.1 test data:
  word soup over its vocabulary, so the fixed 13-entry alias
  dictionary finds mentions as often as there.
* :func:`base_kg` — a (subj, pred, obj, obj_type) KG in the pipeline's
  vocabulary: ``seg:``/``ent:`` subjects; mentions / locations /
  events / about edges; ``@type`` and ``name``; and a ``subClassOf``
  class hierarchy.  A share of the edges points at one hot entity.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

#: the words of the test-data documents (uniform there too)
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
#: languages of the test-data documents and their shares there
LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
#: test-data documents are 10-100 words, uniform
SHORT_WORDS = (10, 100)
#: share of near-duplicates (a copy of an earlier document plus " dup")
DUP_SHARE = 0.05
#: kgc.synth's long documents: every 13th, of 24-40 sentences of
#: 5-14 words (the test data has none over the 200-token budget)
LONG_EVERY = 13
LONG_SENTENCES = (24, 40)
SENTENCE_WORDS = (5, 14)

# top of the class hierarchy: the pipeline's entity types, under Thing
TOP_CLASSES = {
    "Person": "Agent", "Organization": "Agent", "Agent": "Thing",
    "Place": "Thing", "Event": "Thing", "CreativeWork": "Thing",
    "Article": "CreativeWork",
}
LEAF_TYPES = ["Person", "Organization", "Place", "Event", "CreativeWork", "Article"]
# the pipeline's type → predicate rule (kgc.pipeline._TYPE_PRED)
TYPE_PRED = {"Person": "mentions", "Place": "locations", "Event": "events"}


def corpus(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` single-paragraph documents shaped like the test data's
    ``documents.parquet`` (see the module constants for the measured
    shares), plus kgc.synth's long documents."""
    rng = np.random.default_rng([seed, 1])
    lo, hi = SHORT_WORDS
    lens = rng.integers(lo, hi + 1, n_docs)
    for i in range(0, n_docs, LONG_EVERY):
        n = rng.integers(LONG_SENTENCES[0], LONG_SENTENCES[1] + 1)
        lens[i] = rng.integers(SENTENCE_WORDS[0], SENTENCE_WORDS[1] + 1, n).sum()
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lens)]
    # near-duplicates copy an earlier document, as in the test data
    for i in np.flatnonzero(rng.random(n_docs) < DUP_SHARE):
        if i % LONG_EVERY:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(list(LANGS), n_docs, p=list(LANGS.values())),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _concat(*parts) -> pa.Array:
    """Element-wise string concatenation of arrays and constants."""
    return pc.binary_join_element_wise(
        *[p if isinstance(p, (str, pa.Array)) else pa.array(p) for p in parts], ""
    )


def hierarchy(seed: int, n_classes: int) -> tuple[pa.Table, list[str], list[str]]:
    """subClassOf triples: TOP_CLASSES plus ``n_classes`` generated
    classes, each under an earlier generated class or a leaf type.
    Returns (triples, class names, each class's leaf type)."""
    rng = np.random.default_rng([seed, 2])
    names = [f"C{i:03d}" for i in range(n_classes)]
    parent, leaf = [], []
    for i in range(n_classes):
        if i < 2 * len(LEAF_TYPES):
            p = LEAF_TYPES[i % len(LEAF_TYPES)]
            leaf.append(p)
        else:
            j = int(rng.integers(0, i))
            p = names[j]
            leaf.append(leaf[j])
        parent.append(p)
    subj = list(TOP_CLASSES) + names
    obj = list(TOP_CLASSES.values()) + parent
    t = pa.table({
        "subj": subj, "pred": ["subClassOf"] * len(subj), "obj": obj,
        "obj_type": ["node"] * len(subj),
    })
    return t, names, leaf


def base_kg(
    seed: int, n_segments: int, n_entities: int, n_classes: int,
    hot: str, hot_share: float,
) -> pa.Table:
    """A KG of ``n_segments`` segments with 1-5 entity edges each;
    ``hot_share`` of the edges point at the entity ``hot`` (whose own
    @type/name triples come from the built KG, not from here)."""
    h, classes, leaf = hierarchy(seed, n_classes)
    if n_segments == 0:
        return h
    rng = np.random.default_rng([seed, 3])
    ent_cls = rng.integers(0, n_classes, n_entities)
    ent_ids = _concat("ent:G", np.char.zfill(np.arange(n_entities).astype(str), 6))
    cls = np.array(classes)[ent_cls]
    ent_pred = np.array([TYPE_PRED.get(leaf[c], "about") for c in ent_cls])

    per_seg = rng.integers(1, 6, n_segments)
    seg = np.repeat(np.arange(n_segments), per_seg)
    pick = rng.integers(0, n_entities, len(seg))
    is_hot = rng.random(len(seg)) < hot_share
    seg_ids = _concat("seg:g", (seg // 4).astype(str), "#", (seg % 4).astype(str))
    edge_obj = pc.if_else(pa.array(is_hot), pa.scalar(hot), pc.take(ent_ids, pa.array(pick)))
    edge_pred = np.where(is_hot, TYPE_PRED["Person"], ent_pred[pick])
    segs = np.arange(n_segments)
    seg_names = _concat("seg:g", (segs // 4).astype(str), "#", (segs % 4).astype(str))
    seg_type = np.array(LEAF_TYPES + ["Thing"])[rng.integers(0, len(LEAF_TYPES) + 1, n_segments)]

    node, lit = "node", "literal"
    parts = [
        h,
        pa.table({"subj": ent_ids, "pred": ["@type"] * n_entities, "obj": cls,
                  "obj_type": [lit] * n_entities}),
        pa.table({"subj": ent_ids, "pred": ["name"] * n_entities,
                  "obj": _concat("name ", np.arange(n_entities).astype(str)),
                  "obj_type": [lit] * n_entities}),
        pa.table({"subj": seg_names, "pred": ["@type"] * n_segments, "obj": seg_type,
                  "obj_type": [lit] * n_segments}),
        pa.table({"subj": seg_ids, "pred": edge_pred, "obj": edge_obj,
                  "obj_type": [node] * len(seg)}),
    ]
    t = pa.concat_tables([p.cast(h.schema) for p in parts])
    # a KG is a set: drop the repeated (segment, entity) edges
    return t.group_by(["subj", "pred", "obj", "obj_type"], use_threads=False).aggregate([])

