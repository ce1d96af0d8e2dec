"""robots.txt parse stage vs the stdlib parser the reference uses.

The reference gates URLs through urllib.robotparser.RobotFileParser
(master/src/crawler/robots_checker.py:41-138); these tests pin our
clean-room vectorized implementation to the stdlib's observable behavior
over a battery of grouped/ordered/quirky documents, both at the pure-
Python level and through the Spark mapInPandas + join pipeline.
"""

from __future__ import annotations

import urllib.parse
import urllib.robotparser

import pytest
from pyspark.sql import functions as F

from crawler_spark.functions.robots import (
    can_fetch_df,
    parse_robots,
    parse_robots_text,
    rules_to_engine_dim,
)

UA = "crawler"

DOCS = {
    "plain": "User-agent: *\nDisallow: /private\n",
    "allow_before_disallow": (
        "User-agent: *\nAllow: /private/ok\nDisallow: /private\n"
    ),
    "disallow_before_allow": (
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
    ),
    "specific_after_star": (
        "User-agent: *\nDisallow: /\n\n"
        "User-agent: crawler\nDisallow: /only-crawler\n"
    ),
    "specific_before_star": (
        "User-agent: badbot\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /blocked\n"
    ),
    "multi_agent_group": (
        "User-agent: badbot\nUser-agent: crawler\nDisallow: /shared\n"
    ),
    "substring_agent": "User-agent: craw\nDisallow: /sub\n",
    "case_insensitive": "USER-AGENT: CRAWLER\nDISALLOW: /case\n",
    "empty_disallow": "User-agent: *\nDisallow:\n",
    "comment_only_lines_keep_group": (
        "User-agent: *\n# just a comment\nDisallow: /after-comment\n"
    ),
    "blank_line_splits_groups": (
        "User-agent: badbot\n\nDisallow: /orphan\n"
        "User-agent: *\nDisallow: /real\n"
    ),
    "rules_before_any_agent_ignored": (
        "Disallow: /ignored\nUser-agent: *\nDisallow: /kept\n"
    ),
    "crawl_delay_int": "User-agent: *\nCrawl-delay: 7\nDisallow: /cd\n",
    "crawl_delay_nonint_ignored": (
        "User-agent: *\nCrawl-delay: 2.5\nDisallow: /cd\n"
    ),
    "delay_only_group": "User-agent: *\nCrawl-delay: 3\n",
    "quoted_rule_path": "User-agent: *\nDisallow: /a%20b\n",
    # percent-encoding normalization (ADVICE r02): rules with raw spaces
    # or encoded metachars must block the equivalent URL forms
    "space_rule_path": "User-agent: *\nDisallow: /sp ace\n",
    "encoded_query_rule": "User-agent: *\nDisallow: /a%3Fb\n",
    "tilde_star_rule": "User-agent: *\nDisallow: /~usr/a*\n",
    "second_star_group_dropped": (
        "User-agent: *\nDisallow: /first\n\nUser-agent: *\nDisallow: /second\n"
    ),
    "empty_doc": "",
    "trailing_no_newline": "User-agent: *\nDisallow: /tail",
    # whitespace-only lines are NOT group terminators (stdlib checks the
    # raw line before stripping) — round-2 review finding
    "whitespace_line_keeps_group": "User-agent: *\n   \nDisallow: /ws\n",
    "whitespace_between_rules": (
        "User-agent: *\nDisallow: /ws\n \nDisallow: /ws2\n"
    ),
}

URLS = [
    "http://h0.example.com/",
    "http://h0.example.com/private",
    "http://h0.example.com/private/ok",
    "http://h0.example.com/private/ok/deeper",
    "http://h0.example.com/only-crawler/x",
    "http://h0.example.com/blocked/page",
    "http://h0.example.com/shared/doc",
    "http://h0.example.com/sub/doc",
    "http://h0.example.com/case/doc",
    "http://h0.example.com/after-comment/x",
    "http://h0.example.com/orphan",
    "http://h0.example.com/real",
    "http://h0.example.com/ignored",
    "http://h0.example.com/kept",
    "http://h0.example.com/cd",
    "http://h0.example.com/a b",
    "http://h0.example.com/a%20b",
    "http://h0.example.com/first",
    "http://h0.example.com/second",
    "http://h0.example.com/tail/x",
    "http://h0.example.com/p?q=/private",
    "http://h0.example.com/ws/x",
    "http://h0.example.com/ws2/x",
    # quoting torture: literal space, encoded space, '?' vs '%3F',
    # literal/encoded '+', stray '%', '~', '*', encoded '#'
    "http://h0.example.com/sp ace/x",
    "http://h0.example.com/sp%20ace/x",
    "http://h0.example.com/a?b",
    "http://h0.example.com/a%3Fb",
    "http://h0.example.com/a+b",
    "http://h0.example.com/a%2Bb",
    "http://h0.example.com/100%zz",
    "http://h0.example.com/~usr/a*b",
    "http://h0.example.com/frag%23x/y",
]


def _stdlib(txt: str):
    rfp = urllib.robotparser.RobotFileParser()
    rfp.parse(txt.splitlines())
    return rfp


def _decide_py(txt: str, ua: str, url: str) -> bool:
    """Driver-side mirror of can_fetch_df's column algebra."""
    rules, _ = parse_robots_text(txt, ua)
    pr = urllib.parse.urlparse(urllib.parse.unquote(url))
    path = urllib.parse.quote(
        urllib.parse.urlunparse(("", "", pr.path, pr.params, pr.query, ""))
    ) or "/"
    for _seq, allow, rp in rules:
        if rp == "*" or path.startswith(rp):
            return allow
    return True


@pytest.mark.parametrize("name", sorted(DOCS))
def test_parse_matches_robotfileparser(name):
    txt = DOCS[name]
    rfp = _stdlib(txt)
    for url in URLS:
        assert _decide_py(txt, UA, url) == rfp.can_fetch(UA, url), (
            name, url)


@pytest.mark.parametrize("name", sorted(DOCS))
def test_crawl_delay_matches(name):
    txt = DOCS[name]
    _, delay = parse_robots_text(txt, UA)
    assert delay == _stdlib(txt).crawl_delay(UA), name


def test_other_agent_sees_different_groups():
    txt = DOCS["specific_after_star"]
    assert _decide_py(txt, "badbot", "http://h/x") == _stdlib(txt).can_fetch(
        "badbot", "http://h/x")
    assert _decide_py(txt, UA, "http://h/only-crawler/x") is False
    assert _decide_py(txt, UA, "http://h/elsewhere") is True


def test_spark_pipeline_matches_stdlib(spark):
    names = sorted(DOCS)
    hosts = spark.createDataFrame(
        [(i, DOCS[n]) for i, n in enumerate(names)],
        "host_id int, robots_txt string",
    )
    rules = parse_robots(hosts, user_agent=UA)
    urls = spark.createDataFrame(
        [(i, u) for i in range(len(names)) for u in URLS],
        "host_id int, url string",
    )
    got = {
        (r["host_id"], r["url"]): r["allowed"]
        for r in can_fetch_df(urls, rules).collect()
    }
    assert len(got) == len(names) * len(URLS)
    for i, n in enumerate(names):
        rfp = _stdlib(DOCS[n])
        for u in URLS:
            assert got[(i, u)] == rfp.can_fetch(UA, u), (n, u)


def test_rules_to_engine_dim(spark):
    hosts = spark.createDataFrame(
        [(0, DOCS["crawl_delay_int"]), (1, DOCS["plain"]),
         (2, DOCS["delay_only_group"])],
        "host_id int, robots_txt string",
    )
    dim = rules_to_engine_dim(parse_robots(hosts, user_agent=UA))
    rows = {r["host_id"]: r for r in dim.collect()}
    assert rows[0]["disallow"] == "/cd" and rows[0]["crawl_delay"] == 7
    assert rows[1]["disallow"] == "/private" and rows[1]["crawl_delay"] == 1
    assert rows[2]["disallow"] is None and rows[2]["crawl_delay"] == 3


def test_can_fetch_broadcasts_rules(spark):
    hosts = spark.createDataFrame(
        [(0, DOCS["plain"])], "host_id int, robots_txt string")
    urls = spark.createDataFrame(
        [(0, "http://h/x")], "host_id int, url string")
    plan = can_fetch_df(urls, parse_robots(hosts))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # map-only decision: the URL side must never shuffle (the rules dim
    # aggregates + broadcasts; any Exchange here would be on that tiny
    # side, and a Window over the URLs would be a red flag at 10^10 rows)
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# Property-based fuzz: random robots.txt documents vs the stdlib parser.
# ---------------------------------------------------------------------------
try:
    from hypothesis import given, settings, strategies as st

    _agent = st.sampled_from(["*", "crawler", "craw", "badbot", "CRAWLER",
                              "other/2.0"])
    _path = st.from_regex(r"/[a-z0-9/]{0,10}", fullmatch=True)
    _line = st.one_of(
        st.builds(lambda a: f"User-agent: {a}", _agent),
        st.builds(lambda p: f"Disallow: {p}", _path),
        st.builds(lambda p: f"Allow: {p}", _path),
        st.just("Disallow:"),
        st.builds(lambda d: f"Crawl-delay: {d}",
                  st.sampled_from(["1", "7", "2.5", "x"])),
        st.just(""),
        st.just("   "),
        st.just("# a comment"),
        st.builds(lambda p: f"Disallow: {p} # trailing", _path),
        st.just("garbage without colon"),
        st.just("Unknown-key: value"),
    )
    _doc = st.lists(_line, max_size=14).map("\n".join)
    _FUZZ_URLS = ["http://h/", "http://h/a", "http://h/a/b", "http://h/ab",
                  "http://h/c/d?x=1"]

    @given(_doc, st.sampled_from(["crawler", "badbot", "Other/2.0"]))
    @settings(max_examples=400, deadline=None)
    def test_fuzz_parse_matches_stdlib(txt, ua):
        rfp = _stdlib(txt)
        for url in _FUZZ_URLS:
            assert _decide_py(txt, ua, url) == rfp.can_fetch(ua, url), (
                txt, ua, url)
        assert parse_robots_text(txt, ua)[1] == rfp.crawl_delay(ua), txt
except ImportError:  # hypothesis absent: battery tests above still run
    pass


def test_parsed_robots_text_drives_the_engine(spark):
    """Close the loop: real robots.txt TEXT -> parse_robots ->
    rules_to_engine_dim must reproduce the engine's synthetic robots dim
    exactly, and a crawl driven by the parsed dim must produce the same
    fetch log as the golden-checked synthetic-dim crawl."""
    from crawler_spark.frontier import spec, synth
    from crawler_spark.frontier.engine import fetch_log_df, run_crawl

    n_hosts, n_pages = 20, 2000

    def robots_txt(h: int) -> str:
        parts = ["User-agent: *\n"]
        if h % spec.ROBOTS_MOD == spec.ROBOTS_REM:
            parts.append(f"Disallow: {spec.ROBOTS_DISALLOW}\n")
        if h % spec.DELAY_MOD == spec.DELAY2_REM:
            parts.append("Crawl-delay: 2\n")
        if h % spec.DELAY_MOD == spec.DELAY4_REM:
            parts.append("Crawl-delay: 4\n")
        return "".join(parts)

    hosts = spark.createDataFrame(
        [(h, robots_txt(h)) for h in range(n_hosts)],
        "host_id int, robots_txt string",
    )
    parsed_dim = rules_to_engine_dim(parse_robots(hosts, user_agent="crawler"))
    # hosts with no rule and delay 1 are dropped like synth.robots_dim does
    parsed_dim = parsed_dim.where(
        F.col("disallow").isNotNull() | (F.col("crawl_delay") > 1))

    synth_dim = synth.robots_dim(spark, n_hosts)
    assert sorted(map(tuple, parsed_dim.collect())) == \
        sorted(map(tuple, synth_dim.collect()))

    web = synth.web_graph(spark, n_pages, n_hosts)
    seeds = synth.seed_urls(spark, n_pages, 6, n_hosts)
    log_a = fetch_log_df(run_crawl(spark, web, seeds, synth_dim,
                                   rounds=2, k_per_host=2))
    log_b = fetch_log_df(run_crawl(spark, web, seeds, parsed_dim,
                                   rounds=2, k_per_host=2))
    rows = lambda df: sorted(  # noqa: E731
        (r["round"], r["priority"], r["host_id"], r["url"], r["seq"])
        for r in df.collect())
    a, b = rows(log_a), rows(log_b)
    assert a == b and len(a) > 0


def test_decision_string_parity_requires_cpython_311():
    """The fuzz-parity guarantee is pinned to CPython >= 3.11 (urlunsplit
    no longer doubles a leading-'//' path there; older interpreters give
    RobotFileParser different decision strings for path '//a'). A runtime
    downgrade must fail HERE, loudly, not as a semantic robots drift."""
    import sys

    assert sys.version_info >= (3, 11), (
        "functions/robots.py decision-string parity is verified against "
        "CPython >= 3.11 urllib; this interpreter is "
        f"{sys.version.split()[0]}"
    )
    # the concrete behavior the pin protects: patched urlunsplit keeps a
    # leading-'//' path intact (pre-3.11: '////a')
    assert urllib.parse.urlunparse(("", "", "//a", "", "", "")) == "//a"


def test_decision_string_fuzz_matches_stdlib(spark):
    """_stdlib_decision_string (the Spark column pipeline) must equal
    RobotFileParser.can_fetch's normalization for a deterministic bank of
    adversarial URLs — evaluated in ONE Spark job, mirrored per-row in
    Python. Covers what the fixed battery can't enumerate: stacked
    percent-escapes, mixed '+', stray '%', unicode, empty paths,
    queries/fragments with metachars."""
    import random

    from crawler_spark.functions.robots import _stdlib_decision_string

    rng = random.Random(20260817)
    frag = ["/a", "/b c", "/%20", "/%2f", "/%zz", "/100%", "/+x", "/%2B",
            "/~u", "/*", "/é", "/%C3%A9", "/;p", "/a?b", "/a#c", "/%3F",
            "/%23", "//", "/.", "/..", "/%", "/%a", "/%Fg", "%252F"]
    urls = []
    for _ in range(400):
        path = "".join(rng.choice(frag) for _ in range(rng.randint(0, 4)))
        q = rng.choice(["", "?q=1", "?a b", "?%2f", "?+", "?%"])
        urls.append(f"http://h.example{path}{q}")

    def py_norm(u):
        pr = urllib.parse.urlparse(urllib.parse.unquote(u))
        s = urllib.parse.quote(urllib.parse.urlunparse(
            ("", "", pr.path, pr.params, pr.query, pr.fragment)))
        return s or "/"

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["d"] for r in df.select(
        "url", _stdlib_decision_string(F.col("url")).alias("d")).collect()}
    mismatches = [(u, got[u], py_norm(u)) for u in urls
                  if got[u] != py_norm(u)]
    assert not mismatches, mismatches[:5]


def test_fast_path_guard_rate(spark):
    """The r04-verdict observability hook: guard_rate must count exactly
    the rows the fast path serves (no '%+?#', all-safe path chars)."""
    from crawler_spark.functions.robots import fast_path_guard_rate

    urls = [
        "https://h0.example/a/b-c_d.html",   # plain
        "https://h0.example",                # plain (empty path -> '/')
        "https://h0.example/a?q=1",          # '?'  -> slow
        "https://h0.example/a%20b",          # '%'  -> slow
        "https://h0.example/a+b",            # '+'  -> slow
        "https://h0.example/ä",              # non-safe char -> slow
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    row = fast_path_guard_rate(df).collect()[0]
    assert row.n_urls == 6 and row.n_plain == 2
    assert abs(row.guard_rate - 2 / 6) < 1e-6


def test_extract_sitemaps_edges(spark):
    from crawler_spark.functions.robots import extract_sitemaps

    bodies = spark.createDataFrame(
        [
            # canonical + lowercase + indented-with-comment
            (1, "User-agent: *\nSitemap: https://a/s.xml\n"
                "sitemap: https://a/n.xml\n"
                "\tSITEMAP:\thttps://a/t.xml # found\n"),
            # commented out, mid-line mention, empty value: none extract
            (2, "# Sitemap: https://b/ghost.xml\n"
                "Disallow: /see-our-Sitemap: https://b/no.xml\n"
                "Sitemap:\n"),
            # no sitemap at all
            (3, "User-agent: *\nDisallow: /\n"),
            # CRLF line endings: no trailing \r on the URL
            (4, "User-agent: *\r\nSitemap: https://d/s.xml\r\n"
                "Disallow: /x\r\n"),
        ],
        "host_id int, robots_txt string",
    )
    out = sorted(
        (r["host_id"], r["sitemap_url"])
        for r in extract_sitemaps(bodies).collect()
    )
    assert out == [
        (1, "https://a/n.xml"),
        (1, "https://a/s.xml"),
        (1, "https://a/t.xml"),
        (4, "https://d/s.xml"),
    ]
