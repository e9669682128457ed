"""CLI (C1-C4), fetchers (S2/S4/S5), and API writer (W4/A2) tests — the
HTTP paths run against a local in-process server (no external network)."""

import json
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from goskyr_spark.cli import main as cli_main


MOCK_YAML = """
writer:
  type: file
  filedir: {outdir}
  write_status: true
scrapers:
  - name: alpha
    url: "https://a.test/"
    fetcher:
      type: mock
      mock_pages:
        - url: "https://a.test/"
          content: '<div class="e"><span class="t">Hello A</span></div>'
    item: div.e
    fields:
      - name: t
        location: {{selector: span.t}}
  - name: beta
    url: "https://b.test/"
    fetcher:
      type: mock
      mock_pages:
        - url: "https://b.test/"
          content: '<div class="e"><span class="t">Hello B</span></div>'
    item: div.e
    fields:
      - name: t
        location: {{selector: span.t}}
"""


def test_cli_scrape_and_list(tmp_path, capsys):
    cfgfile = tmp_path / "config.yml"
    outdir = tmp_path / "out"
    cfgfile.write_text(MOCK_YAML.format(outdir=outdir))

    assert cli_main(["list", "-c", str(cfgfile)]) == 0
    assert capsys.readouterr().out.splitlines() == ["alpha", "beta"]

    assert cli_main(["scrape", "-c", str(cfgfile)]) == 0
    items = json.loads((outdir / "items.json").read_text())
    assert sorted(i["t"] for i in items) == ["Hello A", "Hello B"]
    status = json.loads((outdir / "status.json").read_text())
    assert {s["scraperName"]: s["nrItems"] for s in status} == \
        {"alpha": 1, "beta": 1}

    # -n single-scraper selection (C3)
    assert cli_main(["scrape", "-c", str(cfgfile), "-n", "beta"]) == 0
    items = json.loads((outdir / "items.json").read_text())
    assert [i["t"] for i in items] == ["Hello B"]

    # unknown name
    assert cli_main(["scrape", "-c", str(cfgfile), "-n", "nope"]) == 1


class _Api(BaseHTTPRequestHandler):
    calls = []

    def do_DELETE(self):
        _Api.calls.append(("DELETE", self.path, None))
        self.send_response(200)
        self.end_headers()

    def do_POST(self):
        body = self.rfile.read(int(self.headers["Content-Length"]))
        _Api.calls.append(("POST", self.path, json.loads(body)))
        self.send_response(400 if "/fail400" in self.path else 201)
        self.end_headers()

    def do_GET(self):
        self.send_response(200)
        self.end_headers()
        self.wfile.write(b'<div class="e"><span class="t">Live</span></div>')

    def log_message(self, *a):
        pass


@pytest.fixture()
def api_server():
    _Api.calls = []
    srv = HTTPServer(("127.0.0.1", 0), _Api)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/api/events"
    srv.shutdown()


def test_api_writer_delete_then_batches(api_server):
    from goskyr_spark.io.api_writer import APIWriter

    w = APIWriter(api_server, user="u", password="p", batch_size=2)
    base = datetime(2026, 5, 1, 20, 0, tzinfo=timezone.utc)
    items = [{"sourceUrl": "https://s1", "date": base, "t": f"i{i}"}
             for i in range(3)]
    items += [{"sourceUrl": "https://s2", "date": base, "t": "j0"}]
    n = w.write(items)
    assert n == 4
    kinds = [c[0] for c in _Api.calls]
    # one DELETE per source, before its items; batches of ≤2 (A2 + W4)
    assert kinds.count("DELETE") == 2
    deletes = [c[1] for c in _Api.calls if c[0] == "DELETE"]
    assert any("sourceUrl=https%3A%2F%2Fs1" in d and
               "datetime=2026-05-01+20%3A00" in d.replace("%20", "+")
               for d in deletes)
    posts = [c[2] for c in _Api.calls if c[0] == "POST"]
    assert [len(p) for p in posts] == [2, 2]
    assert posts[0][0]["date"] == "2026-05-01T20:00:00Z"


def test_static_fetcher_live(api_server):
    from goskyr_spark.spark.fetchers import StaticFetcher, FetchError

    f = StaticFetcher()
    html = f.fetch(api_server.replace("/api/events", "/page"))
    assert "Live" in html


def test_fetcher_factory_defaults():
    from goskyr_spark.config import FetcherConfig
    from goskyr_spark.spark.fetchers import (
        DEFAULT_USER_AGENT, MockFetcher, StaticFetcher, new_fetcher,
    )

    f = new_fetcher(FetcherConfig())
    assert isinstance(f, StaticFetcher)
    assert f.user_agent == DEFAULT_USER_AGENT  # fetcher.go default UA
    m = new_fetcher(FetcherConfig(type="mock",
                                  mock_pages=[{"url": "u", "content": "c"}]))
    assert isinstance(m, MockFetcher)
    assert m.fetch("u") == "c"
    with pytest.raises(ValueError):
        new_fetcher(FetcherConfig(type="bogus"))


def test_api_writer_dry_run_never_writes(api_server):
    """Reference api.go:139-149: dry run skips DELETE and POSTs nothing
    to the real endpoint; with uri_dryrun set it validates there only."""
    from goskyr_spark.io.api_writer import APIWriter

    base = datetime(2026, 5, 1, 20, 0, tzinfo=timezone.utc)
    items = [{"sourceUrl": "https://s1", "date": base, "t": f"i{i}"}
             for i in range(3)]

    w = APIWriter(api_server, user="u", password="p", batch_size=2,
                  dry_run=True)
    assert w.write(list(items)) == 0
    assert _Api.calls == []  # nothing hit the real endpoint

    w2 = APIWriter(api_server, batch_size=2, dry_run=True,
                   uri_dry_run=api_server + "/validate")
    assert w2.write(list(items)) == 0
    kinds = [(c[0], c[1]) for c in _Api.calls]
    assert all(k == "POST" and p.endswith("/validate") for k, p in kinds)
    assert len(w2.validation_results) == 2  # one per batch


def test_api_writer_non201_logs_and_continues(api_server, caplog):
    """writeBatch parity (api.go:151-158): a non-201 POST counts 0
    written and scraping continues — no exception, no task retry."""
    from goskyr_spark.io.api_writer import APIWriter

    base = datetime(2026, 5, 1, 20, 0, tzinfo=timezone.utc)
    items = [{"sourceUrl": "https://s1", "date": base, "t": f"i{i}"}
             for i in range(4)]
    w = APIWriter(api_server + "/fail400", batch_size=2)
    # the test server 400s on /fail400 POSTs; DELETE still 200s
    n = w.write(items)
    assert n == 0
    posts = [c for c in _Api.calls if c[0] == "POST"]
    assert len(posts) == 2  # both batches attempted


def test_completion_generated_from_parser_tree():
    """`completion` emits scripts GENERATED from the live argparse tree
    (reference parity: completions/goskyr.bash + kong's completion
    subcommand): every subcommand and long option appears, bash output
    is syntactically valid, and the checked-in completions/ files match
    regeneration (no drift)."""
    import subprocess

    from goskyr_spark.cli import build_parser, completion_script

    parser = build_parser()
    bash = completion_script(parser, "bash")
    fish = completion_script(parser, "fish")
    for sub in ("scrape", "list", "generate", "crawl", "completion"):
        assert f"'{sub}'*" in bash and f"-a {sub}" in fish
    for opt in ("--workdir", "--canonicalize", "--adaptive", "--min-occ",
                "--shell", "--name"):
        assert opt in bash
    r = subprocess.run(["bash", "-n"], input=bash, text=True,
                       capture_output=True)
    assert r.returncode == 0, r.stderr
    import os
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "completions/goskyr-spark.bash")) as f:
        assert f.read() == bash
