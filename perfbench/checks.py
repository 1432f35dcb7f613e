"""Output checks. Each returns a list of problems; empty means correct.

Graph and export tables are read straight from the parquet the program
wrote (DuckDB / pyarrow), not through the program's own readers.
"""

from __future__ import annotations

import collections
import glob
import hashlib
import os

import duckdb
import pyarrow.parquet as pq

from gen import MENTION_STMT_BASE, MENTIONS_PRED, canon_bnodes


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def read_rows(path: str, columns: list[str], where: str = "") -> list[tuple]:
    """Rows of every parquet file under ``path`` (hive partition columns
    included), in no particular order."""
    files = parquet_files(path)
    if not files:
        return []
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.tmp')}'")
        rel = con.read_parquet(files, hive_partitioning=True)
        sql = f"SELECT {', '.join(columns)} FROM rel {where}"
        return con.execute(sql).fetchall()
    finally:
        con.close()


def digest(rows) -> tuple[int, str]:
    """Order-insensitive digest of a row multiset: (count, sum of 64-bit
    row hashes mod 2**64)."""
    total = n = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, f"{total:016x}"


GRAPH_COLUMNS = ["conv_id", "stmt_idx", "subj", "pred", "obj", "is_quoted", "subj_bucket", "salt"]


def graph_digest(graph_dir: str) -> tuple[int, str]:
    """Order-insensitive digest of every column of every graph row:
    (count, sum of DuckDB's 64-bit row hashes mod 2**64). Two graphs with
    equal digests hold the same rows byte for byte. Computed inside
    DuckDB, so a check takes milliseconds, not a pass over the rows in
    Python."""
    n, total = read_rows(
        graph_dir, ["count(*)", f"sum(hash({', '.join(GRAPH_COLUMNS)})::HUGEINT) % {2**64}"]
    )[0]
    return n, f"{int(total or 0):016x}"


def parse_triples(graph_dir: str) -> list[tuple]:
    """(conv_id, subj, pred, obj) of the graph's parse triples (mention
    triples excluded)."""
    return read_rows(
        graph_dir, ["conv_id", "subj", "pred", "obj"], f"WHERE stmt_idx < {MENTION_STMT_BASE}"
    )


def check_triples(graph_dir: str, expected_path: str) -> list[str]:
    got = canon_bnodes(parse_triples(graph_dir))
    exp = [tuple(r.values()) for r in pq.read_table(expected_path).to_pylist()]
    dg, de = digest(got), digest(exp)
    if dg == de:
        return []
    diff = collections.Counter(got)
    diff.subtract(collections.Counter(exp))
    bad = [(k, v) for k, v in diff.items() if v][:3]
    return [f"graph triples {dg} != expected {de}; e.g. {bad}"]


def check_export(export_dir: str, graph_dir: str) -> list[str]:
    """Every exported document re-parses with zero errors to its
    conversation's statement count in the graph. A graph is a set, so a
    triple stated twice in a conversation is one statement of the export."""
    from kgt.turtle.batch import parse_batch

    distinct = set(read_rows(graph_dir, ["conv_id", "subj", "pred", "obj"]))
    want = collections.Counter(c for c, _, _, _ in distinct)
    docs = read_rows(export_dir, ["conv_id", "ttl"])
    problems = []
    if len(docs) != len(want):
        problems.append(f"{len(docs)} exported documents for {len(want)} conversations")
    ids = [c for c, _ in docs]
    cols = parse_batch(ids, [t for _, t in docs])
    errors = sum(k == "E" for k in cols["kind"])
    if errors:
        problems.append(f"{errors} parse errors re-reading the export")
    got = collections.Counter(c for c, k in zip(cols["conv_id"], cols["kind"]) if k == "T")
    wrong = [c for c in want if got[c] != want[c]]
    if wrong:
        problems.append(f"{len(wrong)} exported documents re-parse to the wrong statement count")
    return problems


def score_links(graph_dir: str, mentions_path: str) -> tuple[float, float, list[str]]:
    """(recall, precision, problems) of entity linking, from the graph's
    <urn:kg:mentions> triples against the generator's ground truth.

    A mention triple's stmt_idx is MENTION_STMT_BASE + turn_idx, so each
    entity mention is scored on its own turn. Recall: share of
    misspelled mentions linked to their true IRI. Precision: share of
    links on misspelled turns, or on turns with no entity mention, that
    are correct. A correctly spelled
    mention that is not linked to its IRI is a problem (exact linking
    must not miss).
    """
    links = collections.defaultdict(set)
    for c, i, o in read_rows(
        graph_dir,
        ["conv_id", "stmt_idx", "obj"],
        f"WHERE pred = '{MENTIONS_PRED}' AND stmt_idx >= {MENTION_STMT_BASE}",
    ):
        if not o.startswith("<urn:agent:") and not o.startswith("<urn:tool:"):
            links[(c, i - MENTION_STMT_BASE)].add(o[1:-1])
    planted = correct = fuzzy_links = missed_exact = 0
    truth = pq.read_table(mentions_path).to_pylist()
    entity_turns = {(r["conv_id"], r["turn_idx"]) for r in truth}
    # a link on a turn with no entity mention can only be a wrong fuzzy link
    fuzzy_links = sum(len(v) for k, v in links.items() if k not in entity_turns)
    for r in truth:
        got = links.get((r["conv_id"], r["turn_idx"]), set())
        if r["misspelled"]:
            planted += 1
            fuzzy_links += len(got)
            correct += r["iri"] in got
        elif got != {r["iri"]}:
            missed_exact += 1
    problems = [f"{missed_exact} exact mentions not linked to their IRI"] if missed_exact else []
    return correct / max(planted, 1), correct / max(fuzzy_links, 1), problems


def check_pairs(pairs: set, expected_path: str) -> list[str]:
    exp = {tuple(r.values()) for r in pq.read_table(expected_path).to_pylist()}
    if pairs == exp:
        return []
    return [
        f"stream pairs: {len(pairs - exp)} unexpected, {len(exp - pairs)} missing "
        f"of {len(exp)} expected"
    ]
