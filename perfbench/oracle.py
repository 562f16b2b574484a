"""Oracle gates for the benchmark's outputs.

Extraction workloads: every output document's span sequence must equal
``oracle.reference_extract`` on the tuple ``(kind, text, media_ref,
offset)``, and its ``n_media`` / ``n_failures`` columns must equal the span
count and ``oracle.extract_failure_count``.  The oracle runs single-process
per document; a pool of spawn workers spreads the documents after the timed
phase is over.

curate-text: the funnel must equal the q35 DuckDB oracle SQL applied to the
benchmark's own input rows.  Stages 0-3 are that SQL, taken from
``plans/generated_oracles.py`` with its ``doc_id < 150`` filter dropped; its
stage-4 constant is replaced by a count computed here from the stage-3 rows
by exact shingle Jaccard over every pair plus union-find.  That is what the
engine's MinHash-LSH stage finds whenever every planted near duplicate has
Jaccard >= 28/29 (the generator guarantees that; the chance that 8 bands of
4 rows all miss such a pair is below 1e-7).
"""

from __future__ import annotations

import re

SPAN_KEYS = ("kind", "text", "media_ref", "offset")


def _span_tuples(spans) -> list[tuple]:
    return [tuple(s[k] for k in SPAN_KEYS) for s in spans]


def _reference_doc(args):
    """(doc_id, expected span tuples, n_media, n_failures) for one document."""
    from red_seal_ocr_spark import oracle
    from red_seal_ocr_spark.functions import kernel

    doc, media = args
    memo: dict[bytes, object] = {}

    def process_image(content, cfg=None):
        if content not in memo:
            memo[content] = kernel.process_image(content)
        return memo[content]

    # extract_failure_count re-runs process_image on the same bytes; share
    # the results of reference_extract's calls instead of decoding twice
    oracle.process_image = process_image
    expected = oracle.reference_extract(doc, media)
    n_fail = oracle.extract_failure_count(doc, media)
    n_media = sum(1 for s in doc["spans"] if s["kind"] == "media")
    return doc["doc_id"], _span_tuples(expected), n_media, n_fail


def reference_extraction(docs: list[dict], media: dict[str, bytes],
                         processes: int) -> dict[str, tuple]:
    """doc_id -> (span tuples, n_media, n_failures) from the oracle."""
    import multiprocessing

    work = [(d, {s["media_ref"]: media[s["media_ref"]] for s in d["spans"]
                 if s["kind"] == "media" and s["media_ref"] in media})
            for d in docs]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(processes) as pool:
        rows = pool.map(_reference_doc, work, chunksize=1)
        pool.close()
        pool.join()
    return {doc_id: (spans, n_media, n_fail) for doc_id, spans, n_media, n_fail in rows}


def check_extraction(output_rows: list[dict], expected: dict[str, tuple]) -> dict:
    """Compare one job's output table with the oracle.

    Returns ``checked`` (documents expected), ``wrong`` (documents missing,
    duplicated, or whose spans / n_media / n_failures differ), ``media`` and
    ``failures`` (summed from the output table).
    """
    seen: dict[str, int] = {}
    wrong = 0
    media = failures = 0
    for row in output_rows:
        doc_id = row["doc_id"]
        seen[doc_id] = seen.get(doc_id, 0) + 1
        media += row["n_media"]
        failures += row["n_failures"]
        exp = expected.get(doc_id)
        if exp is None or seen[doc_id] > 1:
            wrong += 1
            continue
        spans, n_media, n_fail = exp
        if (_span_tuples(row["spans"]) != spans or row["n_media"] != n_media
                or row["n_failures"] != n_fail):
            wrong += 1
    wrong += sum(1 for doc_id in expected if doc_id not in seen)
    return {"checked": len(expected), "wrong": wrong, "media": media,
            "failures": failures}


# ---------------------------------------------------------------------------
# curate-text: the q35 funnel
# ---------------------------------------------------------------------------


def q35_sql() -> tuple[str, str]:
    """(stage 0-3 CTEs, full funnel query) of the repository's q35 oracle
    SQL over the table ``documents``, with its ``doc_id < 150`` filter
    dropped and its stage-4 constant replaced by the parameter ``$stage4``."""
    from red_seal_ocr_spark.plans.generated_oracles import GENERATED_ORACLE_SQL

    sql, n = re.subn(r"FROM documents WHERE doc_id < \d+", "FROM documents",
                     GENERATED_ORACLE_SQL["q35_curate_funnel"])
    sql, m = re.subn(r"SELECT '4_near_dedup', \d+", "SELECT '4_near_dedup', $stage4", sql)
    if (n, m) != (1, 1):
        raise ValueError("q35_curate_funnel no longer has the expected shape")
    return sql[: sql.rindex("SELECT stage, docs FROM (")], sql


# Java's \s (Spark splits on the JVM): Python's \s would also match
# unicode whitespace
_JAVA_WS = re.compile(r"[ \t\n\x0B\f\r]+")


def shingles(text: str, k: int = 3) -> set[str]:
    """dedup._shingles: k-token shingles of split(lower(trim(text)), '\\s+')."""
    toks = _JAVA_WS.split(text.strip(" ").lower())
    n = len(toks) - (k - 1)
    if n <= 0:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(n)}


def near_dedup_survivors(rows: dict[int, str], min_jaccard_pct: int = 80) -> set[int]:
    """Ids kept after clustering pairs with integer Jaccard percent >= the
    threshold and keeping each cluster's minimum id.  Every pair sharing a
    shingle is scored exactly (a pair sharing none has Jaccard 0)."""
    ids = sorted(rows)
    sh = {i: shingles(rows[i]) for i in ids}
    postings: dict[str, list[int]] = {}
    for i in ids:
        for s in sh[i]:
            postings.setdefault(s, []).append(i)
    inter: dict[tuple[int, int], int] = {}
    for members in postings.values():
        for ia, a in enumerate(members):
            for b in members[ia + 1 :]:
                inter[a, b] = inter.get((a, b), 0) + 1
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), n in inter.items():
        if int(100 * n / (len(sh[a]) + len(sh[b]) - n)) >= min_jaccard_pct:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}


def reference_funnel(rows: list[dict]) -> tuple[dict[str, int], set[int]]:
    """(stage -> docs, kept doc_ids) for the q35 funnel over ``rows``."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.register("documents", pa.Table.from_pylist(
            rows, schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())])))
        ctes, funnel_sql = q35_sql()
        stage3_ids = [r[0] for r in con.execute(ctes + " SELECT doc_id FROM stage3").fetchall()]
        texts = {r["doc_id"]: r["text"] for r in rows}
        kept = near_dedup_survivors({i: texts[i] for i in stage3_ids})
        funnel = dict(con.execute(funnel_sql, {"stage4": len(kept)}).fetchall())
    finally:
        con.close()
    return funnel, kept


def check_funnel(funnel: dict[str, int], kept_ids: list[int],
                 expected: tuple[dict[str, int], set[int]]) -> dict:
    """Funnel rows (plus the kept-id set, as one more row) that differ."""
    exp_funnel, exp_kept = expected
    wrong = sum(1 for stage in exp_funnel if funnel.get(stage) != exp_funnel[stage])
    wrong += sum(1 for stage in funnel if stage not in exp_funnel)
    wrong += int(len(kept_ids) != len(set(kept_ids)) or set(kept_ids) != exp_kept)
    return {"checked": len(exp_funnel) + 1, "wrong": wrong}
