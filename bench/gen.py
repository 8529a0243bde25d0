"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of their seed:

* ``gen_corpus`` writes a raw access-log corpus: all eight LineParser
  formats across several text files, one explicitly listed Splunk
  ``.csv`` export, browsing sessions with repeats and session breaks, one
  hot scanner IP, planted 500-bursts, tool-keyword sequences, about 1 %
  unparseable lines and cross-file duplicates. It also writes the
  pipeline config (config.yaml, rules.yaml, shells.txt) and a
  planted-truth ``manifest.json`` that the correctness check compares
  the pipeline's counts with.
* ``gen_documents`` writes a ``documents.parquet`` table with the
  schema of the ``documents`` table the oracled queries read
  (doc_id, text, lang, source, n_chars), including ~5 % near-duplicates
  and a few exact duplicates.

Usage: gen.py corpus <out_dir> <seed> <n_lines>
       gen.py documents <out_dir> <seed> <n_docs>
"""
import csv
import json
import os
import random
import sys
import time

T0 = 1745193600  # 2025-04-21 00:00:00 UTC
DAYS = 4
HOT_IP = "203.0.113.250"

# tool signatures (config.yaml) and the keyword sequences planted for them
TOOLS = [
    ("DirSearch", "DirSearch", "Directory brute forcing",
     ["/.access", ".bak_0.log", "/.chef/config.rb"], 60),
    ("Nikto", "Nikto", "Web server scanner",
     ["/cgi-bin/test-cgi", "/phpinfo.php"], 30),
]

RULES_YAML = """\
- title: Suspicious URI & OK Status
  detection: { selection: { uri_risk|gte: 70, status: [200, 201, 202], resp_size|gte: 25 } }
  tags: [ { risk_score: 75.0 } ]
- title: Shell Command & Status Success
  detection: { selection: { status: [200, 201, 202], resp_size|gte: 25, request_uri|contains: 'whoami' } }
  tags: [ { risk_score: 71.1 } ]
- title: Suspicious Referrer
  detection: { selection: { referrer|contains: fofa.info } }
  tags: [ { risk_score: 67.5 } ]
- title: Scanner User Agent
  detection: { selection: { user_agent|contains: 'sqlmap|nikto' } }
  tags: [ { risk_score: 60.0 } ]
- title: Status Code Risk
  detection: { selection: { status_risk|gte: 70 } }
  tags: [ { risk_score: 40.0 } ]
"""

SHELLS = "# webshell names\nshell.php\ncmd.php\nc99.php\n"

UAS = ["Mozilla/5.0", "Mozilla/5.0 (X11; Linux x86_64)", "curl/8.1",
       "python-requests/2.31"]
REFS = ["-", "https://example.org/", "https://fofa.info/x"]
PAGES = ["/index.html", "/about.html", "/shop/cart", "/shop/item", "/blog/post",
         "/static/app.js", "/static/site.css", "/img/logo.png", "/api/v1/items",
         "/search", "/admin/login", "/config/app.cgi"]


def config_yaml():
    lines = ["rules_path: rules.yaml", "webshell_path: shells.txt",
             "ignore_extensions: ['.js', '.css', '.png', '.ico']",
             "ignore_ip: []",
             "uri_risk:",
             "  sensitive_paths: ['/admin', '/login', '/config', '/setup', '/upload']",
             "  sensitive_extensions: ['.exe', '.sql', '.cgi', '.pl']",
             "tool_signatures:"]
    for tool, name, desc, kws, window in TOOLS:
        lines += [f"  - tool: {tool}", f"    name: {name}",
                  f"    description: {desc}",
                  "    keyword: [" + ", ".join(f"'{k}'" for k in kws) + "]",
                  f"    time_window: {window}"]
    return "\n".join(lines) + "\n"


def write_config(out_dir):
    """The pipeline config, rules and webshell list every workload loads."""
    for name, text in (("config.yaml", config_yaml()), ("rules.yaml", RULES_YAML),
                       ("shells.txt", SHELLS)):
        with open(os.path.join(out_dir, name), "w") as fp:
            fp.write(text)


def apache_ts(epoch):
    return time.strftime("%d/%b/%Y:%H:%M:%S +0000", time.gmtime(epoch))


def iis_ts(epoch):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch))


def render(fmt, r):
    """One log line in format `fmt` for record `r`, plus the D1 dedup key
    the parser will derive from it (timestamp text, ip, method, uri,
    status, size, user agent, referrer; lower-cased, absent fields None)."""
    ip, ep, m, uri, st, sz, ua, ref = (r["ip"], r["t"], r["method"], r["uri"],
                                        r["status"], r["size"], r["ua"], r["ref"])
    if fmt in ("iis", "iis_custom_1"):
        ts = iis_ts(ep)
        ua_i = ua.replace(" ", "+")
        if fmt == "iis":
            line = f"{ts} W3SVC1 {m} {uri} - 443 - {ip} {ua_i} {ref} {st} 0 0 {sz}"
            key = (ts, ip, m, uri, st, sz, ua_i, ref)
        else:
            line = f"{ts} W3SVC1 Srv1 10.9.0.1 {m} {uri} - 443 - {ip} {ua_i} {ref} {st} 0 0 {sz}"
            key = (ts, ip, m, uri, st, 0, ua_i, ref)
    else:
        ts = apache_ts(ep)
        head = f"{ip} - - [{ts}]"
        if fmt == "apache":
            line = f'{head} "{m} {uri} HTTP/1.1" {st} {sz} "{ref}" "{ua}"'
        elif fmt == "nginx":
            line = f'{head} "{m} {uri} HTTP/2.0" {st} {sz} "{ref}" "{ua}"'
        elif fmt == "apache extended":
            line = f'{head} "{m} {uri} HTTP/1.1" {st} {sz} "{ref}" "{ua}" "tls=1.3"'
            ua = ua + '" "tls=1.3'  # apache's lazy UA group absorbs the extra field
        elif fmt == "clf":
            line = f'{head} "{m} {uri} HTTP/1.0" {st} {sz}'
            ua = ref = None
        elif fmt == "unknown":
            line = f'w1 p2 f3 {ip} - - [{ts}] "{m} {uri} HTTP/1.1" {st} {sz}'
            ua = ref = None
        elif fmt == "no_method":
            line = f'{head} "{m} {uri}" {st} {sz} "{ref}" "{ua}"'
            uri, m = f"{m} {uri}", None
        else:
            raise ValueError(fmt)
        key = (ts, ip, m, uri, st, sz, ua, ref)
    return line, tuple(None if v is None else str(v).lower() for v in key)


class Corpus:
    """Accumulates rendered lines per file, keeping every natural line's
    dedup key unique so the only cross-file duplicates are planted ones."""

    def __init__(self, files):
        self.lines = {f: [] for f in files}
        self.keys = set()
        self.rows = 0          # parseable lines written
        self.hot_rows = 0
        self.dup_ok = []       # (file, line) pairs duplicates may copy

    def add(self, fname, fmt, rec, dup_ok=False):
        while True:
            line, key = render(fmt, rec)
            if key not in self.keys:
                break
            # iis_custom_1 logs time-taken where the others log a size, so
            # its dedup key has no size to vary: move it a second instead
            field = "t" if fmt == "iis_custom_1" else "size"
            rec = dict(rec, **{field: rec[field] + 1})
        self.keys.add(key)
        self.lines[fname].append(line)
        self.rows += 1
        if rec["ip"] == HOT_IP:
            self.hot_rows += 1
        if dup_ok:
            self.dup_ok.append((fname, line))
        return line


def gen_corpus(out_dir, seed, n_lines):
    """Write the corpus under out_dir and return its manifest."""
    rnd = random.Random(seed)
    logs = os.path.join(out_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    # file -> the formats its lines use (text files read via the logs dir)
    layout = {
        "web1.log": ["apache", "apache", "apache extended"],
        "web2.log": ["apache", "nginx", "clf"],
        "edge.log": ["unknown", "no_method", "apache"],
        "iis1.log": ["iis", "iis_custom_1"],
        "splunk_export.csv": ["apache"],
    }
    c = Corpus(list(layout))
    files = list(layout)
    span = DAYS * 86400

    # browsing sessions: per-ip visits of 3-25 requests with repeats;
    # gaps under and over the 60 s session threshold
    ips = [f"10.{rnd.randrange(250)}.{rnd.randrange(250)}.{rnd.randrange(1, 250)}"
           for _ in range(max(40, n_lines // 60))]
    n_browse = int(n_lines * 0.80)
    while c.rows < n_browse:
        ip, f = rnd.choice(ips), rnd.choice(files)
        fmt_choices = layout[f]
        t = T0 + rnd.randrange(span - 25 * 400)  # the visit ends inside the span
        ua = rnd.choice(UAS)
        ref = REFS[2] if rnd.random() < 0.02 else rnd.choice(REFS[:2])
        for _ in range(rnd.randrange(3, 26)):
            t += rnd.choice([0, 1, 2, 5, 20, 45, 90, 400])
            uri = rnd.choice(PAGES)
            r = rnd.random()
            if r < 0.02:
                uri = "/download?f=..%2f..%2fetc%2fpasswd"
            elif r < 0.03:
                uri = "/upload/shell.php?cmd=whoami"
            elif r < 0.04:
                uri = "/db/dump.sql"
            status = 200 if rnd.random() < 0.88 else rnd.choice([302, 404, 403, 500])
            c.add(f, rnd.choice(fmt_choices),
                  dict(ip=ip, t=t, method=rnd.choice(["GET", "GET", "POST", "HEAD"]),
                       uri=uri, status=status, size=rnd.randrange(40, 9000),
                       ua=ua, ref=ref), dup_ok=True)

    # one hot scanner ip: ~8 % of lines, fast walks over many paths
    n_hot = int(n_lines * 0.08)
    t = T0 + 1800
    for i in range(n_hot):
        t += rnd.choice([0, 1, 1, 2]) if i % 400 else 3600
        c.add("web1.log", "apache",
              dict(ip=HOT_IP, t=t, method="GET", uri=f"/scan/p{rnd.randrange(5000)}",
                   status=rnd.choice([404, 404, 403, 200]), size=rnd.randrange(20, 400),
                   ua="sqlmap/1.7", ref="-"), dup_ok=True)

    # 500-bursts (BurstDetector): 120 failures 1 s apart, then one 200 on
    # the same uri 30 s later in the same session -> exactly one burst row
    n_bursts = max(2, n_lines // 4000)
    for b in range(n_bursts):
        ip = f"192.0.2.{b % 250 + 1}"
        f = "web2.log" if b % 2 else "web1.log"
        bt = T0 + (b * 7919) % (span - 7200)
        for i in range(120):
            c.add(f, "apache", dict(ip=ip, t=bt + i, method="POST", uri=f"/api/fuzz{b}",
                                    status=500, size=40, ua="python-requests/2.31", ref="-"))
        c.add(f, "apache", dict(ip=ip, t=bt + 150, method="GET", uri=f"/api/fuzz{b}",
                                status=200, size=60, ua="python-requests/2.31", ref="-"))

    # tool sequences (ToolScanner): every keyword of a signature, 10-20 s
    # apart, in one session -> all flagged; plus partial decoys (a
    # keyword missing) that must stay unflagged
    n_seq = max(2, n_lines // 1500)
    tool_rows = 0
    for s in range(n_seq):
        tool, _, _, kws, _ = TOOLS[s % len(TOOLS)]
        ip = f"198.51.100.{s % 200 + 1}"
        f = files[s % 4]
        fmt = [x for x in layout[f] if x != "no_method"][0]
        st = T0 + (s * 104729) % (span - 7200)
        decoy = s % 5 == 4
        seq = kws[:-1] if decoy else kws
        for j, kw in enumerate(seq):
            c.add(f, fmt, dict(ip=ip, t=st + j * rnd.choice([10, 20]), method="GET",
                               uri=kw, status=404, size=30, ua="Mozilla/5.0", ref="-"))
        if not decoy:
            tool_rows += len(seq)

    # about 1 % unparseable lines, plus skipped comments and blank lines
    n_bad = max(1, n_lines // 100)
    for i in range(n_bad):
        c.lines[files[i % 4]].append(f"!! corrupt record {i} ~ {rnd.getrandbits(32):08x}")
    n_skipped = 0
    for f in files[:4]:
        c.lines[f].append("# comment: rotated log")
        c.lines[f].append("")
        n_skipped += 2

    # shuffle each file's lines, then plant duplicates of browsing and
    # hot-ip lines (never of planted burst/tool lines, whose surviving
    # copy must stay in its own file): copies into a different file
    # (dropped by D1) and same-file repeats (kept: they feed
    # request_count)
    for f in files:
        rnd.shuffle(c.lines[f])
    good = c.dup_ok
    picks = rnd.sample(range(len(good)), max(2, n_lines // 100) + max(2, n_lines // 200))
    n_cross = max(2, n_lines // 100)
    for k, idx in enumerate(picks):
        f, ln = good[idx]
        if k < n_cross:
            target = rnd.choice([x for x in files if x != f])
        else:
            target = f
        c.lines[target].insert(rnd.randrange(len(c.lines[target]) + 1), ln)
    n_same = len(picks) - n_cross

    for f in files:
        if f.endswith(".csv"):
            continue
        with open(os.path.join(logs, f), "w", newline="\n") as fp:
            fp.write("\n".join(c.lines[f]) + "\n")
    csv_dir = os.path.join(out_dir, "export")
    os.makedirs(csv_dir, exist_ok=True)
    csv_path = os.path.join(csv_dir, "splunk_export.csv")
    with open(csv_path, "w", newline="") as fp:
        w = csv.writer(fp, lineterminator="\n")
        w.writerow(["_time", "host", "_raw"])
        for ln in c.lines["splunk_export.csv"]:
            w.writerow(["-", "splunk01", ln])

    write_config(out_dir)

    parsed = c.rows + n_cross + n_same
    rows = parsed - n_cross
    manifest = {
        "seed": seed,
        "paths": ["logs", "export/splunk_export.csv"],
        "lines_total": sum(len(v) for v in c.lines.values()),
        "lines_skipped": n_skipped,
        "rows_rejected": n_bad,
        "rows_parsed": parsed,
        "rows_dropped": n_cross,
        "rows_after_dedup": rows,
        "tool_rows": tool_rows,
        "burst_rows": n_bursts,
        "hot_ip": HOT_IP,
        "hot_ip_rows": c.hot_rows,
        "hot_ip_share": c.hot_rows / rows,
        "days": DAYS,
        "start_epoch": T0,
    }
    # duplicate copies of hot-ip lines also survive dedup when same-file
    hot_extra = sum(1 for k, idx in enumerate(picks) if k >= n_cross
                    and good[idx][1].startswith(HOT_IP + " "))
    manifest["hot_ip_rows"] += hot_extra
    manifest["hot_ip_share"] = manifest["hot_ip_rows"] / rows
    with open(os.path.join(out_dir, "manifest.json"), "w") as fp:
        json.dump(manifest, fp, indent=1, sort_keys=True)
    return manifest


WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = [("en", 0.41), ("de", 0.14), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)]


def gen_documents(out_dir, seed, n_docs):
    """Write documents.jsonl + documents.parquet under out_dir."""
    import duckdb  # only the documents table needs it
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts = []
    for i in range(n_docs):
        r = rnd.random()
        if i > 20 and r < 0.05:
            text = texts[rnd.randrange(i)].removesuffix(" dup") + " dup"
        elif i > 20 and r < 0.052:
            text = texts[rnd.randrange(i)]
        else:
            text = " ".join(rnd.choice(WORDS) for _ in range(rnd.randrange(10, 101)))
        texts.append(text)
    jpath = os.path.join(out_dir, "documents.jsonl")
    with open(jpath, "w") as fp:
        for i, text in enumerate(texts):
            x, lang = rnd.random(), LANGS[-1][0]
            for code, w in LANGS:
                if x < w:
                    lang = code
                    break
                x -= w
            fp.write(json.dumps({"doc_id": i, "text": text, "lang": lang,
                                 "source": f"src{i % 20}", "n_chars": len(text)}) + "\n")
    ppath = os.path.join(out_dir, "documents.parquet")
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(text AS VARCHAR) AS text, "
        "CAST(lang AS VARCHAR) AS lang, CAST(source AS VARCHAR) AS source, "
        "CAST(n_chars AS BIGINT) AS n_chars FROM read_json(?, format='newline_delimited', "
        "columns={'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR', "
        "'source': 'VARCHAR', 'n_chars': 'BIGINT'}) ORDER BY doc_id) "
        "TO '" + ppath.replace("'", "''") + "' (FORMAT PARQUET)", [jpath])
    con.close()
    return ppath


if __name__ == "__main__":
    kind, out, seed, n = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
    if kind == "corpus":
        print(json.dumps(gen_corpus(out, seed, n), sort_keys=True))
    else:
        print(gen_documents(out, seed, n))
