"""The config loader: libyaml's safe loader (yaml.CSafeLoader) must build
exactly what the pure-Python yaml.SafeLoader builds, for every scraper
YAML the repo parses and for YAML 1.1's implicit scalars, and must refuse
what SafeLoader refuses."""

import ast
import os
import subprocess
import sys
from collections import defaultdict
from dataclasses import asdict
from datetime import date

import pytest
import yaml

from goskyr_spark import config, fixtures_html, synth
from goskyr_spark.config import loads_config

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(not hasattr(yaml, "CSafeLoader"),
                                reason="PyYAML built without libyaml")


def _template(text):
    """A str.format template ('{{' escapes a flow mapping) filled with
    one value per placeholder, else the text as it is."""
    return (text.format_map(defaultdict(lambda: "h.test"))
            if "{{" in text else text)


def _literal_yamls():
    """(where, text) of every string literal in the repo's Python files
    that holds a scraper config; f-string parts (not YAML until
    formatted) and this module's own malformed samples are skipped."""
    out = []
    for top in ("goskyr_spark", "tests", "perfbench", "bench.py",
                "bench_extra.py"):
        path = os.path.join(REPO, top)
        files = ([path] if top.endswith(".py") else
                 [os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in sorted(fs) if f.endswith(".py")])
        for fn in sorted(files):
            if os.path.samefile(fn, __file__):
                continue
            with open(fn, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            in_fstring = {id(v) for n in ast.walk(tree)
                          if isinstance(n, ast.JoinedStr) for v in n.values}
            for n in ast.walk(tree):
                if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                        and "scrapers:" in n.value
                        and id(n) not in in_fstring):
                    out.append((f"{os.path.relpath(fn, REPO)}:{n.lineno}",
                                _template(n.value)))
    return out


def _repo_yamls():
    # templates built at import time, which no literal holds whole
    return _literal_yamls() + [
        ("synth.EVENT_SCRAPER_SUBPAGE_YAML",
         _template(synth.EVENT_SCRAPER_SUBPAGE_YAML)),
        ("fixtures_html.MOCK_CONFIG", fixtures_html.MOCK_CONFIG),
    ]


def _both(text):
    return (yaml.load(text, Loader=yaml.SafeLoader),
            yaml.load(text, Loader=yaml.CSafeLoader))


def test_engine_parses_with_libyaml():
    assert config._LOADER is yaml.CSafeLoader


def test_loaders_agree_on_every_repo_yaml():
    texts = _repo_yamls()
    # the scan must find the configs: the tests', the synth and perfbench
    # templates, fixtures_html's mock config
    where = " ".join(w for w, _ in texts)
    assert len(texts) >= 30
    for part in ("tests/", "goskyr_spark/synth.py", "perfbench/workloads.py",
                 "goskyr_spark/fixtures_html.py"):
        assert part in where
    for w, text in texts:
        py, c = _both(text)
        assert isinstance(py, dict) and "scrapers" in py, w
        assert py == c, w


@pytest.mark.parametrize("text,value", [
    ("d: 2024-03-01", date(2024, 3, 1)),
    ("b: on", True),
    ("b: off", False),
    ("b: yes", True),
    ("o: 0755", 0o755),
    ("n: 1_000", 1000),
    ("f: .inf", float("inf")),
    ("f: -.inf", float("-inf")),
    ("s: '0755'", "0755"),
    ("x: ~", None),
])
def test_loaders_agree_on_yaml11_scalars(text, value):
    py, c = _both(text)
    assert py == c
    assert list(py.values()) == [value]
    assert type(list(c.values())[0]) is type(value)


@pytest.mark.parametrize("text", [
    "scrapers: [a, b",
    "scrapers:\n  - name: x\n   url: y\n",
    "a: 'unclosed\n",
    "\tscrapers: []\n",
])
def test_invalid_yaml_still_raises(text):
    for loader in (yaml.SafeLoader, yaml.CSafeLoader):
        with pytest.raises(yaml.YAMLError):
            yaml.load(text, Loader=loader)
    with pytest.raises(yaml.YAMLError):
        loads_config(text)


@pytest.mark.parametrize("text", [
    "!!python/object/apply:os.system ['true']",
    "scrapers:\n  - !!python/object:collections.OrderedDict {}\n",
    "x: !!python/name:os.system\n",
])
def test_python_tags_rejected(text):
    for loader in (yaml.SafeLoader, yaml.CSafeLoader):
        with pytest.raises(yaml.constructor.ConstructorError):
            yaml.load(text, Loader=loader)
    with pytest.raises(yaml.YAMLError):
        loads_config(text)


def test_load_config_file_uses_same_loader(tmp_path):
    text = _template(synth.EVENT_SCRAPER_YAML)
    p = tmp_path / "config.yml"
    p.write_text(text, encoding="utf-8")
    assert config.load_config(str(p)) == loads_config(text)


def test_fallback_without_libyaml_builds_same_scraper():
    """With CSafeLoader gone from yaml (PyYAML built without libyaml),
    config.py falls back to SafeLoader and builds the same Scraper. Run
    in a fresh interpreter so the module-level choice is the one made at
    import."""
    text = _template(synth.EVENT_SCRAPER_SUBPAGE_YAML)
    code = (
        "import sys, yaml\n"
        "del yaml.CSafeLoader\n"
        "from dataclasses import asdict\n"
        "from goskyr_spark import config\n"
        "assert config._LOADER is yaml.SafeLoader\n"
        "print(repr(asdict(config.loads_config(sys.stdin.read()))))\n")
    out = subprocess.run([sys.executable, "-c", code], input=text,
                         capture_output=True, text=True, cwd=REPO,
                         check=True).stdout
    assert out.strip() == repr(asdict(loads_config(text)))
