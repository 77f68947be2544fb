"""Result checks, run after the measured process has exited.

* Query results are compared with their DuckDB oracle answers under the
  same rules as the repository's correctness gate: columns sorted by
  name, rows sorted, NaN compared as a token, every value equal.
* The reference pipeline is compared with its generator's truths, and
  its reports and graphs must exist and decode.

Every check returns a list of (operation, reason) failures; empty means
correct.
"""
import hashlib
import math
import os
import pickle
import struct
import zlib

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REPORTS = ["summary_report.md", "network_report.md", "theme_report.md",
           "entity_sentiment_report.md"]
GRAPHS = ["graph_share_of_voice.png", "graph_feature_importance.png"]
PERIODS = ["Feb_Gemini_Era", "May_AI_Wars"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def compare(spark_cols, spark_rows, duck_cols, duck_rows):
    """None when equal, else a one-line reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return "schema: spark=%s oracle=%s" % (sorted(spark_cols), sorted(duck_cols))
    so = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    do = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = sorted((tuple(_norm(r[i]) for i in so) for r in spark_rows), key=repr)
    d = sorted((tuple(_norm(r[i]) for i in do) for r in duck_rows), key=repr)
    if len(s) != len(d):
        return "row count: spark=%d oracle=%d" % (len(s), len(d))
    for i, (a, b) in enumerate(zip(s, d)):
        if a != b:
            return "value at sorted row %d: spark=%r oracle=%r" % (i, a, b)
    return None


def _input_key(data_dir):
    """Identity of an input directory: every file's path, size and mtime."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(data_dir)):
        for f in sorted(files):
            p = os.path.join(root, f)
            st = os.stat(p)
            h.update(("%s|%d|%d\n" % (os.path.relpath(p, data_dir), st.st_size,
                                      int(st.st_mtime))).encode())
    return h.hexdigest()[:16]


class Oracle:
    """DuckDB over the input tables. Answers are cached per (input, SQL)
    under ``cache_dir``; SQL that reads the run's artifact root is
    answered afresh, since that root only lives for one run."""

    def __init__(self, data_dir, cache_dir, artifact_root):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads=2")
        for t in TABLES:
            p = os.path.join(data_dir, t + ".parquet")
            if os.path.exists(p):
                src = p + "/*.parquet" if os.path.isdir(p) else p
                self.con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, src))
        self.key = _input_key(data_dir)
        self.cache_dir = cache_dir
        self.artifact_root = artifact_root

    def answer(self, sql):
        cacheable = self.artifact_root not in sql
        path = os.path.join(self.cache_dir, hashlib.sha256(
            (self.key + "\n" + sql).encode()).hexdigest()[:24] + ".pkl")
        if cacheable and os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        cur = self.con.execute(sql)
        ans = ([d[0] for d in cur.description], cur.fetchall())
        if cacheable:
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = path + ".tmp%d" % os.getpid()
            with open(tmp, "wb") as f:
                pickle.dump(ans, f)
            os.replace(tmp, path)
        return ans

    def result(self, result_dir):
        cur = self.con.execute("SELECT * FROM '%s/*.parquet'" % result_dir)
        return [d[0] for d in cur.description], cur.fetchall()


def check_queries(oracle, results_dir, oracle_sql, names):
    """Compare each query's cold-pass result with its oracle answer."""
    failures = []
    for name in names:
        rdir = os.path.join(results_dir, name)
        if not os.path.isdir(rdir):
            failures.append((name, "no result written"))
            continue
        if name not in oracle_sql:
            failures.append((name, "no oracle"))
            continue
        try:
            scols, srows = oracle.result(rdir)
            dcols, drows = oracle.answer(oracle_sql[name])
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append((name, str(e).splitlines()[0]))
            continue
        err = compare(scols, srows, dcols, drows)
        if err:
            failures.append((name, err))
    return failures


def png_ok(path):
    """True when ``path`` is a well-formed PNG whose image data inflates
    to exactly the size its header declares."""
    try:
        with open(path, "rb") as f:
            data = f.read()
    except OSError:
        return False
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        return False
    pos, idat, ihdr = 8, b"", None
    while pos + 8 <= len(data):
        n, kind = struct.unpack(">I4s", data[pos:pos + 8])
        body = data[pos + 8:pos + 8 + n]
        crc = struct.unpack(">I", data[pos + 8 + n:pos + 12 + n])[0]
        if zlib.crc32(kind + body) & 0xffffffff != crc:
            return False
        if kind == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif kind == b"IDAT":
            idat += body
        elif kind == b"IEND":
            break
        pos += 12 + n
    if ihdr is None or not idat:
        return False
    w, h, depth, color = ihdr[:4]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None or w < 100 or h < 100:
        return False
    row = (w * channels * depth + 7) // 8
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return False
    return len(raw) == h * (row + 1)


def check_pipeline(summary, gkg_truth, html_truth):
    """Reference pipeline results against the generators' truths."""
    failures = []

    def bad(op, msg):
        failures.append((op, msg))

    g = summary.get("gdelt_pipeline")
    if g is None:
        bad("gdelt_pipeline", "no result")
    else:
        for key in ("distinct_urls", "k_openai", "k_google", "k_anthropic"):
            if g[key] != gkg_truth[key]:
                bad("gdelt_pipeline", "%s %s, expected %s" % (key, g[key], gkg_truth[key]))
        if g["rows"] != gkg_truth["distinct_urls"]:
            bad("gdelt_pipeline", "%d core rows, expected one per distinct URL (%d)"
                % (g["rows"], gkg_truth["distinct_urls"]))
        if g["null_urls"] != 0:
            bad("gdelt_pipeline", "%d null URLs kept" % g["null_urls"])
        if g["weeks"] != gkg_truth["weeks"]:
            bad("gdelt_pipeline", "rows per label_week %s, expected %s" % (g["weeks"], gkg_truth["weeks"]))
        for n in REPORTS:
            p = os.path.join(g["dir"], n)
            if not os.path.isfile(p) or os.path.getsize(p) == 0:
                bad("gdelt_pipeline", "report %s missing or empty" % n)
                continue
            with open(p, encoding="utf-8") as f:
                if not f.read().lstrip().startswith("#"):
                    bad("gdelt_pipeline", "report %s has no heading" % n)
        for n in GRAPHS:
            if not png_ok(os.path.join(g["dir"], n)):
                bad("gdelt_pipeline", "graph %s missing or not a valid PNG" % n)
    nlp = summary.get("nlp_top_phrases")
    if nlp is None:
        bad("nlp_top_phrases", "no result")
    else:
        if nlp["pages"] != html_truth["pages"]:
            bad("nlp_top_phrases", "pages per period %s, expected %s" % (nlp["pages"], html_truth["pages"]))
        for p in PERIODS:
            counts = nlp["phrase_counts"].get(p, {})
            if set(counts) != {"5"}:
                bad("nlp_top_phrases", "%s rows by phrase count %s, expected all 5" % (p, counts))
    return failures
