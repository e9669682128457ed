"""RFC 9309 robots.txt parsing + matching, with the de-facto Crawl-delay
extension. New machinery per SURVEY §2.8 (the reference does a bare GET,
/root/reference/internal/fetch/staticfetcher.go:30-44).

Semantics implemented from the RFC: group selection by most-specific
user-agent match ('*' fallback), rule matching by longest-octet path
pattern with '*' wildcards and '$' end anchor, allow wins length ties,
unmatched paths are allowed.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit


class RobotsRules:
    __slots__ = ("rules", "crawl_delay")

    def __init__(self, rules=None, crawl_delay=None):
        # rules: list of (allow: bool, pattern: str, compiled)
        self.rules = rules or []
        self.crawl_delay = crawl_delay  # seconds (float) or None

    def allowed(self, path: str) -> bool:
        if not path.startswith("/"):
            path = "/" + path
        best_len = -1
        best_allow = True
        for allow, pattern, rx in self.rules:
            if rx.match(path):
                plen = len(pattern)
                if plen > best_len or (plen == best_len and allow):
                    best_len = plen
                    best_allow = allow
        return best_allow


def _compile_path(pattern: str):
    out = []
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    for ch in body:
        if ch == "*":
            out.append(".*")
        else:
            out.append(re.escape(ch))
    rx = "".join(out) + ("$" if anchored else "")
    return re.compile(rx)


def parse_robots(text, user_agent: str = "*") -> RobotsRules:
    """Parse robots.txt content and resolve the group for user_agent."""
    if isinstance(text, (bytes, bytearray)):
        text = text.decode("utf-8", errors="replace")
    ua = user_agent.lower()

    groups = []  # (agents:[str], rules:[(allow, pattern)], delay)
    cur_agents = []
    cur_rules = []
    cur_delay = None
    agents_open = False  # consecutive User-agent lines share a group

    def close_group():
        nonlocal cur_agents, cur_rules, cur_delay
        if cur_agents:
            groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], None

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not agents_open:
                close_group()
                agents_open = True
            cur_agents.append(val.lower())
        else:
            agents_open = False
            if key == "allow":
                if val:
                    cur_rules.append((True, val))
            elif key == "disallow":
                if val:
                    cur_rules.append((False, val))
                # empty Disallow = allow all (no rule)
            elif key == "crawl-delay":
                try:
                    cur_delay = float(val)
                except ValueError:
                    pass
    close_group()

    # choose the most specific matching group; '*' is the fallback
    best = None
    best_spec = -1
    for agents, rules, delay in groups:
        for a in agents:
            if a == "*":
                spec = 0
            elif a in ua or ua.startswith(a) or a.startswith(ua):
                spec = len(a)
            else:
                continue
            if spec > best_spec:
                best_spec = spec
                best = (rules, delay)
    if best is None:
        return RobotsRules()
    rules, delay = best
    return RobotsRules(
        [(allow, pat, _compile_path(pat)) for allow, pat in rules], delay)


def robots_url(url: str) -> str:
    """robots.txt of a page's own scheme and netloc: the port is kept (a
    host key strips it; the request must not), and a url without a
    scheme gets https."""
    sp = urlsplit(url)
    return f"{sp.scheme or 'https'}://{sp.netloc}/robots.txt"
