"""Output checks, run after the measured process has exited (never timed).

Each check returns (name, ok, detail). The expected values come from git
itself and from DuckDB SQL over the same parquet files, never from the
program under test.
"""
import math
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

# The command line GitLogSource.logCommand runs for every repository.
GIT_LOG = ["git", "-c", "diff.ignoreSubmodules=all", "-c", "core.quotePath=false", "log",
           "-z", "--no-merges", "--date-order", "--numstat",
           "--find-renames=100%", "--find-copies=100%",
           "--pretty=format:%x01%H%x00%P%x00%an%x00%ae%x00%ct%x00%s"]


def git_floor(jobs, threads):
    """Wall seconds of the raw `git log` over (repo, revs) jobs at `threads`-way
    parallelism, output discarded."""
    t0 = time.perf_counter()
    with ThreadPoolExecutor(threads) as pool:
        list(pool.map(lambda j: subprocess.run(GIT_LOG + j[1], cwd=j[0], check=True,
                                               stdout=subprocess.DEVNULL), jobs))
    return time.perf_counter() - t0


def git_stats(repo):
    """Per-repository logs/changed_files counts and churn from `git log -z`."""
    out = subprocess.run(GIT_LOG, cwd=repo, check=True, capture_output=True).stdout
    tok = out.split(b"\0")
    st = {"commits": 0, "files": 0, "ins": 0, "dels": 0}
    i = 0

    def entry(chunk):
        nonlocal i
        parts = chunk.split(b"\t")
        if len(parts) < 3:
            return
        st["files"] += 1
        st["ins"] += int(parts[0]) if parts[0].isdigit() else 0
        st["dels"] += int(parts[1]) if parts[1].isdigit() else 0
        if b"\t".join(parts[2:]) == b"":
            i += 2  # rename/copy: old and new path follow as their own tokens

    while i < len(tok):
        t = tok[i]
        i += 1
        if t.startswith(b"\x01"):
            st["commits"] += 1
            i += 4  # parents, author name, author email, committer time
            summary = tok[i] if i < len(tok) else b""
            i += 1
            nl = summary.find(b"\n")
            if 0 <= nl < len(summary) - 1:
                entry(summary[nl + 1:])
        elif t:
            entry(t)
    return st


def rev_list(repo, *args):
    out = subprocess.run(["git", "rev-list", *args], cwd=repo, check=True,
                         capture_output=True, text=True).stdout
    return set(out.split())


def _check(name, fn):
    try:
        ok, detail = fn()
    except Exception as e:  # a check that cannot run is a failed check
        ok, detail = False, f"{type(e).__name__}: {e}"
    return name, bool(ok), detail


def _canon(rel):
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda k: cols[k])

    def norm(v):
        return tuple(norm(x) for x in v) if isinstance(v, list) else v
    rows = [tuple(norm(r[k]) for k in order) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[k] for k in order], rows


def _same(a, b, rel_tol):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=rel_tol, abs_tol=rel_tol)
    return a == b


def compare(con, spark_sql, oracle_sql, rel_tol=0.0):
    """Column names (sorted) and rows (sorted) equal; floats within rel_tol."""
    sc, sr = _canon(con.sql(spark_sql))
    oc, orow = _canon(con.sql(oracle_sql))
    if sc != oc:
        return False, f"columns spark={sc} oracle={oc}"
    if len(sr) != len(orow):
        return False, f"rows spark={len(sr)} oracle={len(orow)}"
    for a, b in zip(sr, orow):
        if not all(_same(x, y, rel_tol) for x, y in zip(a, b)):
            return False, f"first differing row spark={a} oracle={b}"
    return True, f"{len(sr)} rows"


# DuckDB equivalents of the six GitAnalytics queries (same parameters).
ANALYTICS_SQL = {
    "top_files": """
        WITH counts AS (SELECT repository_id, file_path, count(*) AS n_changes
                        FROM changed_files GROUP BY ALL),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY repository_id
                          ORDER BY n_changes DESC, file_path) AS rank FROM counts)
        SELECT r.name AS repo, file_path, n_changes, rank
        FROM ranked JOIN repositories r ON repository_id = r.repo_id WHERE rank <= 5""",
    "author_activity": """
        SELECT author_name, CAST(date_trunc('month', commit_datetime) AS TIMESTAMP) AS month,
               count(*) AS n_commits, sum(insertions) AS lines_added,
               sum(deletions) AS lines_removed
        FROM logs GROUP BY ALL""",
    "cumulative_churn": """
        SELECT repository_id, commit_hash, commit_epoch,
               sum(insertions + deletions) OVER (PARTITION BY repository_id
                   ORDER BY commit_epoch, commit_hash
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumulative_churn
        FROM logs""",
    "commit_cadence": """
        WITH g AS (SELECT repository_id, commit_epoch - lag(commit_epoch) OVER (
                     PARTITION BY repository_id ORDER BY commit_epoch, commit_hash) AS gap_s
                   FROM logs)
        SELECT repository_id, quantile_cont(gap_s, 0.5) AS median_gap_s, count(*) AS n_gaps
        FROM g WHERE gap_s IS NOT NULL GROUP BY 1""",
    "co_changed_files": """
        WITH small AS (SELECT repository_id, commit_hash FROM changed_files
                       GROUP BY ALL HAVING count(*) <= 50),
        files AS (SELECT c.* FROM changed_files c JOIN small USING (repository_id, commit_hash)),
        pairs AS (SELECT a.repository_id, a.file_path AS file_a, b.file_path AS file_b
                  FROM files a JOIN files b ON a.repository_id = b.repository_id
                   AND a.commit_hash = b.commit_hash AND a.file_path < b.file_path)
        SELECT repository_id, file_a, file_b, count(*) AS n_together
        FROM pairs GROUP BY ALL HAVING count(*) >= 2""",
    "search_commits": """
        SELECT l.commit_hash, l.repository_id, l.message, l.author_name, l.commit_epoch,
               coalesce(list_sort(list(c.file_path) FILTER (WHERE c.file_path IS NOT NULL)),
                        []::VARCHAR[]) AS files
        FROM logs l LEFT JOIN changed_files c USING (commit_hash, repository_id)
        WHERE regexp_matches(l.message, '{pattern}') GROUP BY ALL""",
}


def etl_full(corpus_dir, manifest, run_dir, result):
    """logs/changed_files per repository against git, the adversarial-content
    rules, and every GitAnalytics answer against DuckDB."""
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    tdir = run_dir / "tables"
    for t in ("repositories", "logs", "changed_files"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tdir}/{t}.parquet/*.parquet'")
    repos = corpus_dir / "repos"
    names = sorted(manifest["repos"])
    report = result["extra"]["report"]
    out = []

    per_logs = {r[0]: r[1:] for r in con.sql(
        "SELECT r.name, count(*), sum(insertions), sum(deletions) FROM logs l "
        "JOIN repositories r ON l.repository_id = r.repo_id GROUP BY 1").fetchall()}
    per_files = dict(con.sql(
        "SELECT r.name, count(*) FROM changed_files c "
        "JOIN repositories r ON c.repository_id = r.repo_id GROUP BY 1").fetchall())
    with ThreadPoolExecutor(4) as pool:
        stats = dict(zip(names, pool.map(lambda n: git_stats(repos / n), names)))

    def repo_check(n):
        g = stats[n]
        want = (g["commits"], g["ins"], g["dels"], g["files"])
        got = tuple(int(x or 0) for x in per_logs.get(n, (0, 0, 0))) + (int(per_files.get(n, 0)),)
        return got == want, f"(logs, insertions, deletions, changed_files) spark={got} git={want}"
    out += [_check(f"etl_full counts {n}", lambda n=n: repo_check(n)) for n in names]

    def no_merges():
        merges = set().union(*(rev_list(repos / n, "--merges", "HEAD") for n in names))
        hit = con.sql("SELECT count(*) FROM logs WHERE commit_hash IN (SELECT unnest(?))",
                      params=[sorted(merges)]).fetchone()[0]
        return bool(merges) and hit == 0, f"{len(merges)} merges in the corpus, {hit} in logs"

    def author_map():
        amap = manifest["author_map"]
        rows = con.sql("SELECT author_email, author_name, count(*) FROM logs "
                       "WHERE author_email IN (SELECT unnest(?)) GROUP BY ALL",
                       params=[sorted(amap)]).fetchall()
        wrong = [r for r in rows if amap[r[0]] != r[1]]
        return bool(rows) and not wrong, f"aliased rows by (email, name): {rows}"

    def scan_report():
        failed = [p.rsplit("/", 1)[-1] for p in report["failed"]]
        ok = (sorted(report["analyzed"]) == names and report["ignored"] == manifest["ignored"]
              and failed == [manifest["nonrepo"]])
        return ok, f"analyzed={len(report['analyzed'])} ignored={report['ignored']} failed={report['failed']}"

    def remotes():
        got = dict(con.sql("SELECT name, url FROM repositories").fetchall())
        want = {n: (e["remote"] or "(no remote url)").replace("git@github.com:", "https://github.com/")
                for n, e in manifest["repos"].items()}
        return got == want, f"{sum(got.get(n) == u for n, u in want.items())}/{len(want)} urls match"

    out += [_check("etl_full merges absent", no_merges),
            _check("etl_full author_map applied", author_map),
            _check("etl_full scan report", scan_report),
            _check("etl_full remote urls", remotes)]

    pattern = result["extra"]["search_pattern"]
    for q, sql in ANALYTICS_SQL.items():
        ans = run_dir / "answers" / f"{q}.parquet"
        out.append(_check(f"analytics {q}", lambda ans=ans, sql=sql: compare(
            con, f"SELECT * FROM '{ans}/*.parquet'", sql.replace("{pattern}", pattern), 1e-9)))
    return out


def etl_incr(corpus_dir, manifest, run_dir, result):
    """Exactly-once: committed logs equal every commit the base and delta
    histories reach, with no duplicate (repository_id, commit_hash); the
    refresh's mode per repository equals the delta's design."""
    con = duckdb.connect()
    logs = f"'{run_dir}/answers/committed_logs.parquet/*.parquet'"
    repos = corpus_dir / "repos"

    def no_dupes():
        d = con.sql(f"SELECT count(*) - count(DISTINCT (repository_id, commit_hash)) FROM {logs}").fetchone()[0]
        return d == 0, f"{d} duplicate (repository_id, commit_hash)"

    def full_history():
        got = set(con.sql(f"SELECT name, commit_hash FROM {logs}").fetchall())
        want = set()
        for n, e in manifest["repos"].items():
            want |= {(n, h) for h in rev_list(repos / n, "--no-merges", e["base"], e["delta"])}
        return got == want, f"committed={len(got)} expected={len(want)} missing={len(want - got)} extra={len(got - want)}"

    def modes():
        got = {p.rsplit("/", 1)[-1]: m for p, m in result["extra"]["modes"].items()}
        want = {n: e["mode"] for n, e in manifest["repos"].items()}
        return got == want, f"modes differ: {[(n, got.get(n), m) for n, m in want.items() if got.get(n) != m]}"

    return [_check("etl_incr no duplicates", no_dupes),
            _check("etl_incr committed = full history", full_history),
            _check("etl_incr mode per repository", modes)]


def inventory(tables_dir, run_dir, result, keys):
    """Each sampled key's answer against its SparkEntry.oracleSql text in DuckDB
    (exact equality after sorting columns by name and rows)."""
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    oracle = result["extra"].get("oracle_sql") or {}
    out = []
    for k in keys:
        if k not in oracle:
            out.append((f"oracle {k}", False, "no oracle SQL"))
            continue
        ans = run_dir / "answers" / k
        out.append(_check(f"oracle {k}", lambda ans=ans, k=k: compare(
            con, f"SELECT * FROM '{ans}/*.parquet'", oracle[k])))
    return out
