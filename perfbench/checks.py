"""Output checks for the graft benchmark, independent of the program.

Expected outputs of `release_all` and `stream_ingest` are derived in DuckDB
from the generator's truth tables alone (which entity ids each match's
label names, and each document's publication after id repair), by the
grounding rules the pipeline documents: a match with no candidate fails;
per keyword, only publications whose least ambiguous label for it is as
unambiguous as anywhere in the batch keep it; a co-occurrence needs both
sides and is disambiguated side by side. `operator_mix` outputs are
compared with each query's DuckDB oracle SQL.

Each check returns a list of problems; an empty list means the output
matched.
"""
import math

import duckdb

REL_TOL = 1e-9


def _close(a, b, tol=REL_TOL):
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def _truth(con, inp, ranks):
    """Expected matches (`kept`) and co-occurrences (`keep2`) tables."""
    con.execute(f"""
        CREATE OR REPLACE TABLE ranks AS
        SELECT * FROM (VALUES {", ".join(f"('{r['section']}', {r['rank']}, {r['weight']})" for r in ranks)})
          AS t(section, rank, weight)""")
    con.execute(f"""
        CREATE OR REPLACE TABLE tm AS
        SELECT batch, pmid, coalesce(pmcid, '') AS pmcid, section, type, cand
        FROM read_parquet('{inp}/truth_matches/*.parquet')
        WHERE pmid IS NOT NULL AND section IS NOT NULL""")
    con.execute("""
        CREATE OR REPLACE TABLE cand AS
        SELECT batch, pmid, pmcid, section, type, unnest(cand) AS kw, len(cand) AS n
        FROM tm WHERE len(cand) > 0""")
    con.execute("""
        CREATE OR REPLACE TABLE kept AS
        SELECT c.* FROM cand c
        JOIN (SELECT batch, pmid, pmcid, type, kw, min(n) AS mpp FROM cand GROUP BY ALL) p
          USING (batch, pmid, pmcid, type, kw)
        JOIN (SELECT batch, type, kw, min(n) AS mo FROM cand GROUP BY ALL) o
          USING (batch, type, kw)
        WHERE p.mpp <= o.mo""")
    con.execute(f"""
        CREATE OR REPLACE TABLE tc AS
        SELECT batch, pmid, coalesce(pmcid, '') AS pmcid, section, textLen, score, cand1, cand2
        FROM read_parquet('{inp}/truth_coocs/*.parquet')
        WHERE pmid IS NOT NULL AND section IS NOT NULL""")
    con.execute("""
        CREATE OR REPLACE TABLE c0 AS
        SELECT *, unnest(cand2) AS k2, len(cand2) AS n2 FROM (
          SELECT *, unnest(cand1) AS k1, len(cand1) AS n1 FROM tc
          WHERE len(cand1) > 0 AND len(cand2) > 0)""")
    for side, src, dst in ((1, "c0", "keep1"), (2, "keep1", "keep2")):
        con.execute(f"""
            CREATE OR REPLACE TABLE {dst} AS
            SELECT c.* FROM {src} c
            JOIN (SELECT batch, pmid, pmcid, k{side}, min(n{side}) AS mpp FROM {src} GROUP BY ALL) p
              USING (batch, pmid, pmcid, k{side})
            JOIN (SELECT batch, k{side}, min(n{side}) AS mo FROM {src} GROUP BY ALL) o
              USING (batch, k{side})
            WHERE p.mpp <= o.mo""")


def _count(con, sql):
    return con.execute(sql).fetchone()[0]


class ReleaseCheck:
    """Checks every `EtlMain all` output directory of one run."""

    def __init__(self, inp, facts):
        self.con = duckdb.connect()
        self.facts = facts
        _truth(self.con, inp, facts["ranks"])
        c = self.con
        ranked = "section IN (SELECT section FROM ranks)"
        self.expected = {
            "matches": _count(c, "SELECT count(*) FROM kept"),
            "failedMatches": _count(c, "SELECT count(*) FROM tm WHERE len(cand) = 0"),
            "cooccurrences": _count(c, "SELECT count(*) FROM keep2"),
            "failedCooccurrences": _count(c, """
                SELECT coalesce(sum(greatest(len(cand1), 1) * greatest(len(cand2), 1)), 0)
                FROM tc WHERE len(cand1) = 0 OR len(cand2) = 0"""),
            "literatureIndex": _count(c, "SELECT count(DISTINCT (pmid, kw)) FROM kept"),
            "vectors": _count(c, f"SELECT count(DISTINCT kw) FROM kept WHERE {ranked}"),
        }
        title_w = next((r["weight"] for r in facts["ranks"] if r["section"] == "title"), 1.0)
        c.execute(f"""
            CREATE OR REPLACE TABLE relevance AS
            WITH per_sec AS (
              SELECT k.pmid, k.kw, k.section, count(*) AS n,
                     coalesce(any_value(r.rank), 100) AS rank, coalesce(any_value(r.weight), 0.01) AS w
              FROM kept k LEFT JOIN ranks r ON k.section = r.section GROUP BY ALL),
            elems AS (
              SELECT pmid, kw, rank, section, CASE WHEN section = 'title' THEN {title_w} ELSE w END AS w,
                     unnest(range(CASE WHEN section = 'title' THEN 1 ELSE n END)) AS i
              FROM per_sec),
            ordered AS (
              SELECT pmid, kw, w, row_number() OVER (PARTITION BY pmid, kw ORDER BY rank, section, i) AS k
              FROM elems)
            SELECT CAST(pmid AS BIGINT) AS pmid, kw, sum(w / (k * k)) AS relevance FROM ordered GROUP BY ALL""")
        c.execute(f"""
            CREATE OR REPLACE TABLE shared AS
            WITH m AS (SELECT DISTINCT pmid, type, kw FROM kept WHERE {ranked})
            SELECT g.kw AS target, d.kw AS disease, count(*) AS shared
            FROM m g JOIN m d ON g.pmid = d.pmid AND g.type = 'GP' AND d.type = 'DS'
            GROUP BY ALL""")
        c.execute("""
            CREATE OR REPLACE TABLE cooc_ev AS
            WITH r AS (
              SELECT k1, k2, pmid, score / 10.0 AS v,
                     row_number() OVER (PARTITION BY k1, k2 ORDER BY score DESC) AS k
              FROM keep2 WHERE textLen < 600)
            SELECT k1 AS target, k2 AS disease, count(DISTINCT pmid) AS pubs, sum(v / (k * k)) AS harmonic
            FROM r GROUP BY ALL""")

    def check(self, out):
        c = self.con
        problems = []
        for name, want in self.expected.items():
            got = _count(c, f"SELECT count(*) FROM read_parquet('{out}/{name}/*.parquet')")
            if got != want:
                problems.append(f"{name}: {got} rows, expected {want}")
        for name in ("matches", "failedMatches", "cooccurrences"):
            # every row names the EPMC file it came from
            unsourced = _count(c, f"""
                SELECT count(*) FROM read_parquet('{out}/{name}/*.parquet')
                WHERE coalesce(trace_source, '') NOT LIKE '%/epmc/%'""")
            if unsourced:
                problems.append(f"{name}: {unsourced} rows without an EPMC trace_source")
        bad = c.execute(f"""
            SELECT count(*) FILTER (WHERE e.pmid IS NULL OR o.pmid IS NULL),
                   max(abs(e.relevance - o.relevance) / greatest(1.0, abs(e.relevance)))
            FROM relevance e FULL JOIN read_parquet('{out}/literatureIndex/*.parquet') o
              ON e.pmid = o.pmid AND e.kw = o.keywordId""").fetchone()
        if bad[0] or (bad[1] or 0.0) > REL_TOL:
            problems.append(f"literatureIndex relevance: {bad[0]} unmatched rows, max rel diff {bad[1]}")
        ev = c.execute(f"""
            SELECT count(*),
              count(*) FILTER (WHERE s.shared IS NULL OR s.shared <> e.sharedPublicationCount),
              count(*) FILTER (WHERE NOT isfinite(e.similarity) OR e.similarity < -1.000000001
                               OR e.similarity > 1.000000001 OR e.similarity <= {self.facts["threshold"]}),
              count(*) FILTER (WHERE coalesce(x.pubs, 0) <> e.cooccurredPublicationCount
                               OR abs(coalesce(x.harmonic, 0) - e.harmonicCooccurrenceSentiment)
                                  > {REL_TOL} * greatest(1.0, abs(e.harmonicCooccurrenceSentiment)))
            FROM read_parquet('{out}/evidence/*.parquet') e
            LEFT JOIN shared s ON s.target = e.targetFromSourceId AND s.disease = e.diseaseFromSourceMappedId
            LEFT JOIN cooc_ev x ON x.target = e.targetFromSourceId AND x.disease = e.diseaseFromSourceMappedId
            """).fetchone()
        if ev[0] == 0 or any(ev[1:]):
            problems.append(f"evidence: {ev[0]} rows, {ev[1]} wrong shared counts, "
                            f"{ev[2]} similarities outside (threshold, 1], {ev[3]} wrong co-occurrence scores")
        return problems


class StreamCheck:
    """Checks the sink tables of every drain: matches and co-occurrences
    summed over batches, disambiguated within each landed file."""

    def __init__(self, inp, facts, batches):
        self.con = duckdb.connect()
        _truth(self.con, inp, facts["ranks"])
        self.batches = batches
        self.expected = {
            "matches": _count(self.con, "SELECT count(*) FROM kept"),
            "cooccurrences": _count(self.con, "SELECT count(*) FROM keep2"),
        }

    def check(self, out, latencies):
        problems = []
        if len(latencies) != self.batches:
            problems.append(f"{len(latencies)} batches read files, expected {self.batches}")
        for name, want in self.expected.items():
            got = _count(self.con, f"SELECT count(*) FROM read_parquet('{out}/{name}/*/*.parquet')")
            if got != want:
                problems.append(f"{name}: {got} rows, expected {want}")
        return problems


def _normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)


def _equal(a, b):
    import pandas as pd
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return (math.isnan(fa) and math.isnan(fb)) or _close(fa, fb)
    return a == b


def _ranked_ties_equal(got, want):
    """Equality for ranked top-k outputs (query_id, neighbor_id, sim, rank)
    up to the order among equal scores: per query the same ranks and
    distinct neighbours, the same scores rank by rank, the same score for
    every neighbour both sides list, and neighbours only one side lists
    all at the k-th score. The oracles order equal scores by unrounded
    float sums, whose last bits depend on the engine's summation order
    (and, with DuckDB's parallel aggregation, change from run to run), so
    their choice among ties is noise."""
    if set(got.columns) != {"query_id", "neighbor_id", "sim", "rank"}:
        return False
    if sorted(set(got.query_id)) != sorted(set(want.query_id)):
        return False
    for q in set(want.query_id):
        g = got[got.query_id == q].sort_values("rank")
        w = want[want.query_id == q].sort_values("rank")
        if len(g) != len(w) or list(g["rank"]) != list(w["rank"]) or g.neighbor_id.nunique() != len(g):
            return False
        if not all(_close(a, b) for a, b in zip(g.sim, w.sim)):
            return False
        gs, ws = dict(zip(g.neighbor_id, g.sim)), dict(zip(w.neighbor_id, w.sim))
        if any(not _close(gs[n], ws[n]) for n in gs.keys() & ws.keys()):
            return False
        if any(not _close(gs.get(n, ws.get(n)), w.sim.min()) for n in gs.keys() ^ ws.keys()):
            return False
    return True


def check_operator_mix(inp, facts, out):
    """Returns {query: problem} for every query whose output under `out`
    differs from its DuckDB oracle."""
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp}/{t}.parquet/*.parquet')")
    failures = {}
    for q in facts["queries"]:
        try:
            got = _normalize(con.execute(f"SELECT * FROM read_parquet('{out}/{q}/*.parquet')").df())
            want = _normalize(con.execute(facts["oracle"][q]).df())
        except Exception as e:  # an oracle or read error is a failed check
            failures[q] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if list(got.columns) != list(want.columns):
            failures[q] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            failures[q] = f"{len(got)} rows vs {len(want)}"
        elif len(got) == 0:
            failures[q] = "empty output"
        else:
            gv, wv = got.values.tolist(), want.values.tolist()
            for i, (g, w) in enumerate(zip(gv, wv)):
                bad = [col for col, x, y in zip(got.columns, g, w) if not _equal(x, y)]
                if bad:
                    if not _ranked_ties_equal(got, want):
                        failures[q] = f"row {i} differs in {bad}"
                    break
    return failures
