"""Seeded input generators for the perfbench workloads.

This module imports nothing from ``kgt``: the inputs and the expected
results must not move when the program under test changes. Each
generator is a pure function of its seed, writes the parquet the
program reads, and writes beside it the expected result the checks
compare against:

* ``build-kg``: transcripts whose documents need the full Turtle
  grammar, plus a share of regular N-Triples+pnames documents; both
  mention dictionary entities, some misspelled. Beside them
  ``dict.parquet``, ``expected_triples.parquet`` (one row per expected
  parse triple, blank nodes relabelled canonically, see
  ``canon_bnodes``) and ``mentions.parquet`` (one row per entity
  mention with its true IRI).
* ``stream-neardup``: a document corpus with planted near-duplicates
  and exact copies split into K parquet files, plus
  ``expected_pairs.parquet`` computed by ``neardup_pairs.sql`` in DuckDB.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
VOCAB = "http://kg.example/vocab#"
ENTITY_NS = "http://kg.example/entity/"
MENTIONS_PRED = "<urn:kg:mentions>"
MENTION_STMT_BASE = 1_000_000_000
BAD_STATEMENT = "v:bad _:-x ."
ROLES = ("user", "assistant", "tool")
TOOL_NAME = "kg_writer"
AGENT_ROWS = [
    ("user", "urn:agent:user", "agent"),
    ("assistant", "urn:agent:assistant", "agent"),
    ("tool", "urn:agent:tool", "agent"),
    (TOOL_NAME, "urn:tool:" + TOOL_NAME, "tool"),
]

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
TRIPLE_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("subj", pa.string()),
        ("pred", pa.string()),
        ("obj", pa.string()),
    ]
)

_SYLLABLES = [
    c + v
    for c in "bdfgklmnprstvz"
    for v in ("a", "e", "i", "o", "u", "ai", "ou")
]
# entity names: a wider syllable inventory than _word, so character
# 3-grams are spread out the way real names spread them
_ONSETS = list("bcdfghjklmnpqrstvwz") + [
    "bl", "br", "ch", "cr", "dr", "fl", "gr", "kl", "pl", "pr", "sh", "sk", "sp", "st", "th", "tr",
]
_NUCLEI = ["a", "e", "i", "o", "u", "y", "ae", "ai", "ea", "io", "ou"]
_CODAS = ["", "", "", "ck", "l", "m", "n", "ng", "r", "s", "t", "x"]
_LANGS = ["en", "de", "fr", "en-US", "pt-BR"]
_T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _word(rng: random.Random, lo: int = 2, hi: int = 3) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(lo, hi)))


def _name(rng: random.Random) -> str:
    def word(n):
        return "".join(
            rng.choice(_ONSETS) + rng.choice(_NUCLEI) + rng.choice(_CODAS) for _ in range(n)
        )

    return f"{word(rng.randint(2, 3))}_{word(rng.randint(1, 2))}"


def _iri(s: str) -> str:
    return f"<{s}>"


def _typed(lex: str, dtype: str) -> str:
    return f'"{lex}"^^<{XSD}{dtype}>'


def _write_transcripts(path: str, rows: list, rng: random.Random, n_files: int) -> None:
    """Turn rows land on disk in a seeded shuffled order, split over
    ``n_files`` files so the scan has several input splits."""
    rng.shuffle(rows)
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * step : (f + 1) * step]
        if not part:
            continue
        conv, turn, role, text, tool = zip(*part)
        table = pa.table(
            {
                "conv_id": list(conv),
                "turn_idx": list(turn),
                "role": list(role),
                "text": list(text),
                "tool": list(tool),
                "ts": [_T0 + dt.timedelta(minutes=t) for t in turn],
            },
            schema=TRANSCRIPT_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def _turn_rows(conv_id: str, lines: list[str]) -> list:
    out = []
    for i, line in enumerate(lines):
        role = ROLES[i % 3]
        out.append((conv_id, i, role, line, TOOL_NAME if role == "tool" else None))
    return out


def _write_triples(path: str, triples: list) -> None:
    conv, s, p, o = zip(*triples) if triples else ((), (), (), ())
    pq.write_table(
        pa.table(
            {"conv_id": list(conv), "subj": list(s), "pred": list(p), "obj": list(o)},
            schema=TRIPLE_SCHEMA,
        ),
        path,
    )


# ---------------------------------------------------------------------
# blank-node canonicalization (shared by the expected and the checked side)
# ---------------------------------------------------------------------


def canon_bnodes(triples):
    """Relabel blank nodes by content: a node's label is a hash of its
    sorted outgoing (predicate, object) edges, objects relabelled first.

    ``triples`` is an iterable of (conv_id, subj, pred, obj) NT strings;
    returns the same multiset with every ``_:x`` replaced by ``_:c<hash>``.
    Every blank node the generators emit is a tree node (property lists
    and collections), so the labels are well defined; a cycle (only a
    wrong program could make one) gets a fixed ``_:cycle`` label, which
    then fails the comparison.
    """
    triples = list(triples)
    out_edges: dict = {}
    for c, s, p, o in triples:
        if s.startswith("_:"):
            out_edges.setdefault((c, s), []).append((p, o))
    memo: dict = {}

    def label(c: str, b: str, depth: int = 0) -> str:
        key = (c, b)
        if key in memo:
            return memo[key]
        if depth > 10_000:
            return "_:cycle"
        edges = sorted(
            (p, label(c, o, depth + 1) if o.startswith("_:") else o)
            for p, o in out_edges.get(key, ())
        )
        h = hashlib.blake2b(repr(edges).encode(), digest_size=12).hexdigest()
        memo[key] = "_:c" + h
        return memo[key]

    return [
        (
            c,
            label(c, s) if s.startswith("_:") else s,
            p,
            label(c, o) if o.startswith("_:") else o,
        )
        for c, s, p, o in triples
    ]


# ---------------------------------------------------------------------
# build-kg
# ---------------------------------------------------------------------

NODE_NS = "http://kg.example/node/"


class _Bnodes:
    def __init__(self):
        self.n = 0

    def new(self) -> str:
        self.n += 1
        return f"_:g{self.n}"


def _misspell(rng: random.Random, name: str) -> str:
    """One edit inside the entity name (never the same string back)."""
    while True:
        i = rng.randrange(len(name))
        op = rng.randrange(3)
        letter = rng.choice("abdegiklmnoprstu")
        if op == 0:
            cand = name[:i] + letter + name[i + 1 :]
        elif op == 1:
            cand = name[:i] + name[i + 1 :]
        else:
            cand = name[:i] + letter + name[i:]
        if cand != name and "_" not in (cand[:1], cand[-1:]):
            return cand


class _Entities:
    """The entity dictionary, and every mention made of it: mentions
    pick entities Zipf-like and a ``miss_frac`` share is misspelled."""

    def __init__(self, rng: random.Random, n: int, miss_frac: float):
        names: set = set()
        while len(names) < n:
            names.add(_name(rng))
        self.names = sorted(names)
        rng.shuffle(self.names)
        self.rng = rng
        self.miss_frac = miss_frac
        weights = 1.0 / np.arange(1, n + 1) ** 0.8
        self.picks = self._draw(np.random.default_rng(rng.randrange(2**32)), weights / weights.sum())
        self.mentions: list = []

    @staticmethod
    def _draw(nprng, p):
        while True:
            yield from nprng.choice(len(p), size=65536, p=p).tolist()

    def dictionary(self) -> list:
        rows = [(f"urn:ent:{n}", f"{ENTITY_NS}E{i}", "entity") for i, n in enumerate(self.names)]
        return rows + AGENT_ROWS

    def mention(self, conv_id: str, turn: int) -> str:
        """IRIREF of one mention on ``turn``, recorded with its true IRI."""
        e = next(self.picks)
        miss = self.rng.random() < self.miss_frac
        surface = _misspell(self.rng, self.names[e]) if miss else self.names[e]
        self.mentions.append((conv_id, turn, f"{ENTITY_NS}E{e}", miss))
        return _iri(f"urn:ent:{surface}")


def _literal(rng: random.Random):
    """(turtle text, NT form) of a random object literal."""
    k = rng.randrange(7)
    if k == 0:
        w = f"{_word(rng)} {_word(rng)}"
        return f'"{w}"', f'"{w}"'
    if k == 1:
        w, lang = _word(rng), rng.choice(_LANGS)
        return f'"{w}"@{lang}', f'"{w}"@{lang.lower()}'
    if k == 2:
        n = str(rng.randint(-999, 99999))
        return n, _typed(n, "integer")
    if k == 3:
        d = f"{rng.randint(0, 999)}.{rng.randint(0, 99):02d}"
        return d, _typed(d, "decimal")
    if k == 4:
        d = f"{rng.randint(1, 9)}.{rng.randint(0, 9)}e{rng.randint(-3, 9)}"
        return d, _typed(d, "double")
    if k == 5:
        b = rng.choice(("true", "false"))
        return b, _typed(b, "boolean")
    day = f"2026-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    return f'"{day}"^^xsd:date', _typed(day, "date")


def _grammar_statement(rng, ents, conv_id, turn, j, bn, triples):
    """One Turtle statement about ex:<conv>_s<j>, starting on ``turn``,
    as a list of lines (one turn each); appends its expected
    (subj, pred, obj) to ``triples``."""
    local = f"{conv_id}_s{j}"
    subj = _iri(NODE_NS + local)
    kind = rng.randrange(5)
    if kind == 0:
        # predicate list with object lists
        cls = f"C{rng.randrange(20)}"
        lines = [f"ex:{local} a v:{cls} ;"]
        triples.append((subj, _iri(RDF + "type"), _iri(VOCAB + cls)))
        n_preds = rng.randint(1, 4)
        for k in range(n_preds):
            pred = f"p{rng.randrange(30)}"
            objs = [_literal(rng) for _ in range(rng.randint(1, 3))]
            end = " ." if k == n_preds - 1 else " ;"
            lines.append(f"  v:{pred} " + ", ".join(t for t, _ in objs) + end)
            triples.extend((subj, _iri(VOCAB + pred), nt) for _, nt in objs)
        return lines
    if kind == 1:
        # blank-node property list, one nested level
        b, inner = bn.new(), bn.new()
        lit1, lit2 = _literal(rng), _literal(rng)
        triples += [
            (subj, _iri(VOCAB + "part"), b),
            (b, _iri(VOCAB + "label"), lit1[1]),
            (b, _iri(VOCAB + "detail"), inner),
            (inner, _iri(VOCAB + "value"), lit2[1]),
        ]
        return [
            f"ex:{local} v:part [",
            f"  v:label {lit1[0]} ;",
            f"  v:detail [ v:value {lit2[0]} ]",
            "] .",
        ]
    if kind == 2:
        # collection, possibly with a nested collection
        items = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.3:
                o = rng.randrange(50)
                items.append((f"ex:o{o}", _iri(f"{NODE_NS}o{o}")))
            else:
                items.append(_literal(rng))
        nested = rng.random() < 0.3
        if nested:
            inner_items = [_literal(rng) for _ in range(2)]

        def chain(entries):
            if not entries:
                return _iri(RDF + "nil")
            head = bn.new()
            cur = head
            for i, obj in enumerate(entries):
                triples.append((cur, _iri(RDF + "first"), obj))
                nxt = bn.new() if i < len(entries) - 1 else _iri(RDF + "nil")
                triples.append((cur, _iri(RDF + "rest"), nxt))
                cur = nxt
            return head

        entries = [nt for _, nt in items]
        text = " ".join(t for t, _ in items)
        if nested:
            entries.append(chain([nt for _, nt in inner_items]))
            text += " ( " + " ".join(t for t, _ in inner_items) + " )"
        triples.append((subj, _iri(VOCAB + "items"), chain(entries)))
        return [f"ex:{local} v:items ( {text} ) ."]
    if kind == 3:
        # an entity mention, one line
        ent = ents.mention(conv_id, turn)
        triples.append((ent, _iri(VOCAB + "mentionedIn"), subj))
        return [f"{ent} v:mentionedIn ex:{local} ."]
    # plain triple linking two subjects
    k = rng.randrange(max(j, 1))
    triples.append((subj, _iri(VOCAB + "rel"), _iri(f"{NODE_NS}{conv_id}_s{k}")))
    return [f"ex:{local} v:rel ex:{conv_id}_s{k} ."]


def _heavy_tail(rng: random.Random, lo: int, cap: int) -> int:
    """Statements per conversation: Pareto tail, alpha 1.6."""
    return min(cap, lo + int(rng.paretovariate(1.6)) - 1)


def _grammar_conversation(rng, ents, conv_id):
    """Needs the full grammar; 10% carry a malformed statement that
    recovery must drop. Returns (lines, triples, malformed)."""
    lines = [f"@prefix ex: <{NODE_NS}> .", f"@prefix v: <{VOCAB}> .", f"@prefix xsd: <{XSD}> ."]
    triples: list = []
    bn = _Bnodes()
    n_stmts = _heavy_tail(rng, 1, 300)
    bad_at = rng.randrange(n_stmts) if rng.random() < 0.1 else -1
    for j in range(n_stmts):
        if j == bad_at:
            lines.append(f"ex:{conv_id}_s{j}x {BAD_STATEMENT}")
        lines.extend(_grammar_statement(rng, ents, conv_id, len(lines), j, bn, triples))
    return lines, triples, bad_at >= 0


def _regular_conversation(rng, ents, conv_id):
    """One N-Triples+pnames statement per line, each naming an entity:
    the subset the columnar fast path takes. Returns (lines, triples)."""
    lines = [f"@prefix v: <{VOCAB}> ."]
    triples: list = []
    for _ in range(_heavy_tail(rng, 3, 120)):
        subj = ents.mention(conv_id, len(lines))
        k = rng.randrange(4)
        if k == 0:
            cls = f"C{rng.randrange(20)}"
            text, pred, obj = f"{subj} a v:{cls} .", _iri(RDF + "type"), _iri(VOCAB + cls)
        elif k == 1:
            w = f"{_word(rng)} {_word(rng)}"
            text, pred, obj = f'{subj} v:label "{w}" .', _iri(VOCAB + "label"), f'"{w}"'
        elif k == 2:
            n = str(rng.randint(0, 99999))
            text, pred, obj = f"{subj} v:score {n} .", _iri(VOCAB + "score"), _typed(n, "integer")
        else:
            w, lang = _word(rng), rng.choice(_LANGS)
            text = f'{subj} v:name "{w}"@{lang} .'
            pred, obj = _iri(VOCAB + "name"), f'"{w}"@{lang.lower()}'
        lines.append(text)
        triples.append((subj, pred, obj))
    return lines, triples


def gen_build_kg(
    out: str, seed: int, n_turns: int, n_entities: int, miss_frac: float, regular_frac: float
) -> dict:
    """Grammar conversations and a ``regular_frac`` share of regular
    ones, both mentioning dictionary entities."""
    rng = random.Random(f"build-kg:{seed}")
    ents = _Entities(rng, n_entities, miss_frac)
    os.makedirs(out, exist_ok=True)
    dict_rows = ents.dictionary()
    pq.write_table(
        pa.table({k: [r[i] for r in dict_rows] for i, k in enumerate(("surface", "iri", "kind"))}),
        os.path.join(out, "dict.parquet"),
    )
    rows: list = []
    expected: list = []
    n_convs = n_regular = n_bad = 0
    while len(rows) < n_turns:
        if rng.random() < regular_frac:
            conv_id = f"r{n_convs:07d}"
            lines, triples = _regular_conversation(rng, ents, conv_id)
            n_regular += 1
        else:
            conv_id = f"g{n_convs:07d}"
            lines, triples, bad = _grammar_conversation(rng, ents, conv_id)
            n_bad += bad
        rows.extend(_turn_rows(conv_id, lines))
        expected.extend((conv_id, s, p, o) for s, p, o in triples)
        n_convs += 1
    _write_transcripts(os.path.join(out, "transcripts"), rows, rng, 8)
    _write_triples(os.path.join(out, "expected_triples.parquet"), canon_bnodes(expected))
    conv, turn, iri, miss = zip(*ents.mentions)
    pq.write_table(
        pa.table(
            {
                "conv_id": list(conv),
                "turn_idx": pa.array(turn, pa.int32()),
                "iri": list(iri),
                "misspelled": list(miss),
            }
        ),
        os.path.join(out, "mentions.parquet"),
    )
    return {
        "turns": len(rows),
        "conversations": n_convs,
        "regular_conversations": n_regular,
        "malformed_conversations": n_bad,
        "triples": len(expected),
        "entities": n_entities,
        "mentions": len(ents.mentions),
        "misspelled": int(sum(miss)),
    }


# ---------------------------------------------------------------------
# stream-neardup
# ---------------------------------------------------------------------

NEARDUP_SQL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "neardup_pairs.sql")


def gen_stream_neardup(out: str, seed: int, n_docs: int, n_files: int) -> dict:
    """``n_docs`` originals, a near-duplicate (first word dropped, or one
    word replaced) of every 10th and an exact copy of every 14th, all
    interleaved at random over ``n_files`` files so pairs cross files."""
    rng = random.Random(f"stream-neardup:{seed}")
    vocab = sorted({_word(rng, 1, 3) for _ in range(6000)})
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    nprng = np.random.default_rng(rng.randrange(2**32))
    lens = nprng.integers(20, 80, size=n_docs)
    words = nprng.choice(len(vocab), size=int(lens.sum()), p=zipf / zipf.sum())
    docs: list = []
    pos = 0
    for i, n in enumerate(lens):
        docs.append((i, " ".join(vocab[w] for w in words[pos : pos + n])))
        pos += n
    extra = []
    for i, text in docs:
        if i % 10 == 0:
            ws = text.split(" ")
            if rng.random() < 0.5:
                ws = ws[1:]
            else:
                ws[rng.randrange(len(ws))] = rng.choice(vocab)
            extra.append((n_docs + len(extra), " ".join(ws)))
        if i % 14 == 0:
            extra.append((n_docs + len(extra), text))
    docs += extra
    rng.shuffle(docs)
    src = os.path.join(out, "docs")
    os.makedirs(src, exist_ok=True)
    step = -(-len(docs) // n_files)
    for f in range(n_files):
        part = docs[f * step : (f + 1) * step]
        ids, texts = zip(*part)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}),
            os.path.join(src, f"part-{f:03d}.parquet"),
        )
    with open(NEARDUP_SQL) as f:
        sql = f.read().replace("{docs}", os.path.join(src, "*.parquet"))
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute("SET enable_progress_bar = false")
        con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.tmp')}'")
        con.execute(
            f"COPY ({sql} ORDER BY doc_a, doc_b) TO '{os.path.join(out, 'expected_pairs.parquet')}' "
            "(FORMAT parquet)"
        )
        (n_pairs,) = con.execute(
            f"SELECT count(*) FROM '{os.path.join(out, 'expected_pairs.parquet')}'"
        ).fetchone()
    finally:
        con.close()
    return {"docs": len(docs), "files": n_files, "pairs": int(n_pairs)}


GENERATORS = {
    "build-kg": gen_build_kg,
    "stream-neardup": gen_stream_neardup,
}


def generate(workload: str, root: str, seed: int, **size) -> tuple[str, dict]:
    """Inputs for (workload, seed, size) under ``root``, generated once
    and reused: a finished directory holds ``_SUCCESS`` with the summary."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(root, f"{workload}-s{seed}-{key}")
    done = os.path.join(out, "_SUCCESS")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    summary = GENERATORS[workload](out, seed, **size)
    with open(done, "w") as f:
        json.dump(summary, f)
    return out, summary
