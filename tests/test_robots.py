"""robots.txt parse + gate (operators/robots.py) vs an independent
pure-Python RFC 9309 reference."""

import re

from origami_spark.operators.robots import parse_robots, robots_gate, url_path

ROBOTS = """\
# synthetic robots fixture
User-agent: googlebot
Disallow: /

User-agent: origami

User-agent: friendbot
Disallow: /en/a1
Allow: /en/a12*
Disallow: /de/a*3$
Disallow: /fr
Crawl-delay: 5
Disallow:

User-agent: *
Disallow: /es
"""

NO_SPECIFIC = """\
User-agent: googlebot
Allow: /only-google
User-agent: *
Disallow: /private
Disallow: /tmp*$
"""


def _ref_parse(content: str, agent: str):
    groups, cur, last_ua = [], None, False
    for raw in content.split("\n"):
        line = re.sub("#.*", "", raw).strip()
        m = re.match(r"^([A-Za-z-]+):(.*)$", line)
        if not m or m.group(1).lower() not in ("user-agent", "allow",
                                               "disallow"):
            continue  # unknown directives/blanks neither join nor break
        key, val = m.group(1).lower(), m.group(2).strip()
        if key == "user-agent":
            if not last_ua:
                cur = {"agents": set(), "rules": set()}
                groups.append(cur)
            cur["agents"].add(val.lower())
            last_ua = True
        else:
            last_ua = False
            if val and cur is not None:
                cur["rules"].add((1 if key == "allow" else 0, val))
    spec = [g for g in groups if agent.lower() in g["agents"]]
    star = [g for g in groups if "*" in g["agents"]]
    chosen = spec if spec else star
    out = set()
    for g in chosen:
        out |= g["rules"]
    return out


def _ref_allowed(path: str, rules) -> bool:
    best = None
    for allow, spec in rules:
        anchored = spec.endswith("$")
        body = spec[:-1] if anchored else spec
        rx = ("^" + ".*".join(re.escape(p) for p in body.split("*"))
              + ("$" if anchored else ""))
        if re.search(rx, path):
            key = (len(spec), allow)
            if best is None or key > best:
                best = key
    return True if best is None else best[1] == 1


def _rules_df(spark, content: str, agent: str, host: str = "h.com"):
    robots = spark.createDataFrame([(host, content)],
                                   "host string, content string")
    return parse_robots(robots, agent)


def test_parse_matches_reference(spark):
    got = {(r["allow"], r["path"])
           for r in _rules_df(spark, ROBOTS, "origami").collect()}
    want = _ref_parse(ROBOTS, "origami")
    assert got == want
    # the specific groups exclude both googlebot's and the star rules
    assert (0, "/") not in got and (0, "/es") not in got
    # stacked User-agent lines share one group; empty Disallow and
    # Crawl-delay emit nothing
    assert (0, "/en/a1") in got and (1, "/en/a12*") in got


def test_parse_falls_back_to_star(spark):
    got = {(r["allow"], r["path"])
           for r in _rules_df(spark, NO_SPECIFIC, "origami").collect()}
    assert got == _ref_parse(NO_SPECIFIC, "origami")
    assert got == {(0, "/private"), (0, "/tmp*$")}


def test_parse_agent_match_is_case_insensitive(spark):
    got = {(r["allow"], r["path"])
           for r in _rules_df(spark, ROBOTS, "FriendBot").collect()}
    assert got == _ref_parse(ROBOTS, "FriendBot")
    assert (0, "/fr") in got


def test_gate_verdicts_match_reference(spark):
    rules = _rules_df(spark, ROBOTS, "origami")
    urls = [
        "https://h.com/en/a1",        # blocked: /en/a1 prefix
        "https://h.com/en/a19",       # blocked: /en/a1 prefix
        "https://h.com/en/a12",       # allowed: /en/a12* longer
        "https://h.com/en/a123",      # allowed: /en/a12* longer
        "https://h.com/en/a2",        # allowed: nothing matches
        "https://h.com/de/a73",       # blocked: /de/a*3$ anchored
        "https://h.com/de/a734",      # allowed: anchor fails
        "https://h.com/fr/a5",        # blocked: /fr
        "https://h.com/es/a5",        # allowed: star group not chosen
        "https://h.com",              # allowed: path defaults to /
        "https://other.net/fr/a5",    # allowed: unknown host
    ]
    pages = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["allowed"]
           for r in robots_gate(pages, rules).collect()}
    ref_rules = _ref_parse(ROBOTS, "origami")
    for u in urls:
        path = re.sub(r"^[a-z]+://[^/]*", "", u) or "/"
        want = _ref_allowed(path, ref_rules) if "h.com" in u else True
        assert got[u] is want, (u, got[u], want)
    assert got["https://h.com/en/a1"] is False
    assert got["https://h.com/en/a123"] is True
    assert got["https://h.com/de/a73"] is False
    assert got["https://h.com/de/a734"] is True


def test_gate_allow_wins_specificity_tie(spark):
    content = "User-agent: *\nDisallow: /x/a\nAllow: /x/b\n"
    rules = _rules_df(spark, content, "origami")
    # craft a tie: both specs have length 4 and both match /x/ab? no —
    # use equal-length allow+disallow matching the same path
    content = "User-agent: *\nDisallow: /doc*\nAllow: /doc/*\n"
    rules = _rules_df(spark, content, "origami")
    pages = spark.createDataFrame([("https://h.com/doc/1",)], "url string")
    r = robots_gate(pages, rules).collect()[0]
    # /doc* (len 5) vs /doc/* (len 6): longer allow wins
    assert r["allowed"] is True
    ref = _ref_parse(content, "origami")
    assert _ref_allowed("/doc/1", ref) is True


def test_url_path_extraction(spark):
    rows = spark.createDataFrame(
        [("https://h.com",), ("https://h.com/a/b?q=1#frag",),
         ("https://user@h.com:8080/x",), ("https://h.com?q=1",)],
        "url string"
    ).select(url_path("url").alias("p")).collect()
    # query-only urls normalize to the RFC's slash-prefixed form
    assert [r["p"] for r in rows] == ["/", "/a/b?q=1", "/x", "/?q=1"]


def test_parse_handles_tabs_and_crlf(spark):
    """RFC 9309 WS is space OR tab; CRLF bodies are the transfer norm.
    F.trim strips only spaces, so these once parsed to ZERO rules."""
    content = ("User-agent:\t*\r\nDisallow:\t/private\r\n"
               "Allow:\t/private/ok\t\r\n")
    got = {(r["allow"], r["path"], r["rule_len"])
           for r in _rules_df(spark, content, "origami").collect()}
    assert got == {(0, "/private", 8), (1, "/private/ok", 11)}
    rules = _rules_df(spark, content, "origami")
    pages = spark.createDataFrame(
        [("https://h.com/private/x",), ("https://h.com/private/ok/y",)],
        "url string")
    verdicts = {r["url"]: r["allowed"]
                for r in robots_gate(pages, rules).collect()}
    assert verdicts == {"https://h.com/private/x": False,
                        "https://h.com/private/ok/y": True}


def test_parse_partition_independent_no_udf(spark):
    robots = spark.createDataFrame(
        [(f"h{i}.com", ROBOTS) for i in range(20)],
        "host string, content string")
    a = sorted(map(tuple, parse_robots(robots, "origami").collect()))
    b = sorted(map(tuple,
                   parse_robots(robots.repartition(7), "origami").collect()))
    assert a == b and len(a) > 0
    plan = (parse_robots(robots, "origami")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gate_plan_rules_broadcast_corpus_unshuffled(spark):
    """The small-rule-table contract (broadcast_rules=True, which the
    entry query pins for its known-tiny staged rules): the rule table
    folds per host and joins the url side broadcast; the verdict is a
    per-row array fold, so the corpus side is never hash-partitioned
    and never re-joined."""
    import __spark_entry__ as E

    df = E.queries()["robots_allowed"](spark, E.SF_DEFAULT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only hash exchange folds the (small) RULE table per host;
    # the page side is never hash-partitioned and never re-joined
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_gate_large_rule_table_no_broadcast(spark):
    """VERDICT r4 item 2: a real crawl has 10^7-10^8 hosts with robots
    bodies — the rule table must have a non-broadcast path.  A
    synthetic many-host rule table with broadcast_rules=False plans a
    shuffled hash join (no BroadcastExchange of the rule side), and
    all three strategies return identical verdicts."""
    n = 500
    rules = spark.createDataFrame(
        [(f"h{i}.example", i % 2, "/blocked", 8, "^/blocked")
         for i in range(n)],
        "host string, allow int, path string, rule_len int, "
        "pattern string")
    pages = spark.createDataFrame(
        [(f"https://h{i}.example/blocked/x",) for i in range(n)]
        + [(f"https://h{i}.example/open",) for i in range(n)]
        + [("https://norules.example/a",)],
        "url string")

    forced = robots_gate(pages, rules, broadcast_rules=False)
    plan = forced._jdf.queryExecution().executedPlan().toString()
    head = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" not in head, head
    assert "ShuffledHashJoin" in head, head

    got = {(r["url"], r["allowed"]) for r in forced.collect()}
    for mode in (True, None):
        assert got == {(r["url"], r["allowed"]) for r in
                       robots_gate(pages, rules,
                                   broadcast_rules=mode).collect()}
    # odd hosts Allow /blocked, even hosts Disallow it; no rule -> allow
    assert ("https://norules.example/a", True) in got
    assert ("https://h2.example/blocked/x", False) in got
    assert ("https://h3.example/blocked/x", True) in got
    assert ("https://h2.example/open", True) in got


def test_parse_fuzz_against_reference(spark):
    """30 seeded random robots bodies (stacked/empty groups, comments,
    unknown directives, empty values, mixed case, blank lines) parsed
    in ONE Spark pass and compared host-by-host with the pure-Python
    reference."""
    import random

    rng = random.Random(20260818)
    lines = [
        "User-agent: origami", "User-agent: *", "User-agent: other",
        "USER-AGENT: OrIgAmI", "user-agent: friendbot",
        "Disallow: /a", "Disallow: /a/b*", "Disallow: /c$", "Disallow:",
        "Allow: /a/b/c", "Allow: /", "allow: /x*y$",
        "Crawl-delay: 7", "Sitemap: https://x/s.xml", "# comment only",
        "", "   ", "garbage line no colon", "Disallow: /q # trailing",
        "User-agent:\t*", "Disallow:\t/tabbed", "Allow: /sp\t",
        "\tDisallow: /lead", "Disallow: /cr\r",
    ]
    bodies = {
        f"h{i}.net": "\n".join(rng.choice(lines)
                               for _ in range(rng.randint(0, 25)))
        for i in range(30)
    }
    robots = spark.createDataFrame(list(bodies.items()),
                                   "host string, content string")
    got: dict = {h: set() for h in bodies}
    for r in parse_robots(robots, "origami").collect():
        got[r["host"]].add((r["allow"], r["path"]))
    for h, content in bodies.items():
        assert got[h] == _ref_parse(content, "origami"), (h, content)


def test_robots_sitemaps_group_independent(spark):
    content = ("Sitemap: https://cdn.x/a.xml\n"
               "User-agent: googlebot\nDisallow: /\n"
               "Sitemap:\thttps://cdn.x/b.xml  \n"
               "# Sitemap: https://cdn.x/commented.xml\n"
               "Sitemap:\n"
               "sitemap: https://cdn.x/lower.xml\n")
    from origami_spark.operators.robots import robots_sitemaps

    robots = spark.createDataFrame([("h.com", content)],
                                   "host string, content string")
    got = sorted(r["sitemap"] for r in robots_sitemaps(robots).collect())
    # found regardless of group position, key case, tab separators;
    # commented-out and empty records drop
    assert got == ["https://cdn.x/a.xml", "https://cdn.x/b.xml",
                   "https://cdn.x/lower.xml"]
