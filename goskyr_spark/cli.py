"""CLI — parity with the reference's commands (cmd/goskyr/main.go):
scrape (C1 worker pool min(20, N), C2 per-scraper isolation, C3 -n
selection), list (C4), plus engine-native subcommands (crawl, bench).

The `scrape` path runs the pure-Python kernels with the reference's
worker-pool shape for small/local jobs; `--spark` switches the same
configs onto the distributed pipeline.
"""

from __future__ import annotations

import argparse
import sys
from concurrent.futures import ThreadPoolExecutor

from .config import ConfigError, load_config
from .io.writers import item_to_json, write_items_file, write_status_file
from .kernels.scrape import scrape_local


def _fetch_fn(scraper, debug=False):
    from .spark.fetchers import new_fetcher

    if debug and not scraper.fetcher.debug_dir:
        # the reference's -d turns the HTML dump on with the default
        # dir (main.go:45, fetcher.go:26 DebugDirDefault)
        import dataclasses

        scraper = dataclasses.replace(
            scraper,
            fetcher=dataclasses.replace(scraper.fetcher,
                                        debug_dir="debug"))
    fetcher = new_fetcher(scraper.fetcher)

    def fetch(url):
        try:
            return fetcher.fetch(url)
        except Exception:
            return None

    return fetch


def cmd_scrape(args):
    cfg = load_config(args.config)
    scrapers = [s for s in cfg.scrapers
                if not args.name or s.name == args.name]
    if args.name and not scrapers:
        print(f"no scraper found with name {args.name}", file=sys.stderr)
        return 1
    all_items = []
    statuses = []

    def run_one(s):
        # per-scraper isolation: a failing scraper logs + continues
        # (main.go:198-202)
        try:
            items, stats = scrape_local(
                s, _fetch_fn(s, debug=args.debug))
            return s.name, items, stats, None
        except Exception as e:
            return s.name, [], {"nrItems": 0, "nrErrors": 1}, str(e)

    workers = min(20, max(1, len(scrapers)))  # main.go:155-157
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for name, items, stats, err in pool.map(run_one, scrapers):
            if err:
                print(f"scraper {name} failed: {err}", file=sys.stderr)
            all_items.extend(items)
            statuses.append({"scraperName": name,
                             "nrItems": stats["nrItems"],
                             "nrErrors": stats["nrErrors"]})

    if cfg.writer.type == "file":
        path = write_items_file(all_items, cfg.writer.filedir)
        if cfg.writer.write_status:
            write_status_file(statuses, cfg.writer.filedir)
        print(f"wrote {len(all_items)} items to {path}", file=sys.stderr)
    elif cfg.writer.type == "api":
        from .io.api_writer import APIWriter

        w = APIWriter(cfg.writer.uri, cfg.writer.user, cfg.writer.password,
                      cfg.writer.batch_size, dry_run=cfg.writer.dry_run,
                      uri_dry_run=cfg.writer.uri_dry_run)
        n = w.write(all_items)
        print(f"wrote {n} items from {len(w.deleted_sources)} sources "
              "to the api", file=sys.stderr)
    elif cfg.writer.type in ("", "stdout"):
        for item in all_items:
            print(item_to_json(item))
    else:
        print(f"writer type '{cfg.writer.type}' does not exist",
              file=sys.stderr)
        return 1
    return 0


def cmd_list(args):
    cfg = load_config(args.config)
    for name in sorted(s.name for s in cfg.scrapers):  # main.go:335-362
        print(name)
    return 0


def cmd_crawl(args):
    from datetime import datetime, timezone

    from .spark.crawl import CrawlEngine
    from .spark.session import get_spark
    from .synth import SynthSpec, event_scraper, host_name, synth_pages_df

    spark = get_spark(app="goskyr-crawl")
    factory, live_fetcher = event_scraper, None
    seeds = []
    if args.config and not (args.live or args.pages):
        # without a page source the engine would crawl the SYNTHETIC web
        # with the config's scraper — the seeds don't exist there, so
        # every fetch silently reports 'missing'. Fail loudly instead.
        raise SystemExit(
            "crawl -c CONFIG needs a page source: --live (real HTTP) or "
            "--pages PARQUET (offline page table)")
    if args.config:
        # crawl a real goskyr config: its scrapers' urls are the seeds;
        # the engine requires field-compatible scrapers (one engine per
        # config family)
        cfg = load_config(args.config)
        scraper0 = cfg.scrapers[0]
        factory = lambda host: scraper0  # noqa: E731
        seeds = [s.url for s in cfg.scrapers if s.url]
    if args.live:
        from .spark.fetchers import StaticFetcher, new_fetcher

        fc = (load_config(args.config).scrapers[0].fetcher
              if args.config else None)
        live_fetcher = ((lambda: new_fetcher(fc)) if fc
                        else (lambda: StaticFetcher()))
        pages = None
        seeds = seeds or ([s.strip() for s in open(args.seeds)]
                          if args.seeds else [])
        if not seeds:
            raise SystemExit("--live needs -c config urls or --seeds")
    elif args.pages:
        pages = spark.read.parquet(args.pages)
        seeds = seeds or ([s.strip() for s in open(args.seeds)]
                          if args.seeds else
                          [r["url"] for r in
                           pages.select("url").limit(10).collect()])
    else:
        spec = SynthSpec(n_hosts=args.hosts)
        pages = synth_pages_df(spark, spec, include_fixtures=False)
        seeds = seeds or [f"https://{host_name(h)}/list/1"
                          for h in range(spec.n_hosts)]
    eng = CrawlEngine(spark, args.workdir, pages, factory, seeds,
                      now=datetime(2026, 3, 1, tzinfo=timezone.utc),
                      live_fetcher=live_fetcher,
                      adaptive_priority=args.adaptive,
                      canonicalize_outlinks=args.canonicalize)
    for s in eng.run(max_rounds=args.max_rounds):
        print(s)
    return 0


def _shorten(s, n=40):
    # utils.ShortenString parity: cut + ellipsis
    return s if len(s) <= n else s[: n - 3] + "..."


def interactive_field_select(candidates, names, infile=None,
                             outfile=None):
    """Terminal field selection — the reference's tview table
    (fieldmanager.go:375-430: field name + up to 4 example values,
    toggle rows, Escape to finish) as a plain prompt: print the same
    table, read the indices to KEEP (empty/'all' keeps everything,
    'none' aborts). Ranges like '0-3' work."""
    infile = infile or sys.stdin
    outfile = outfile or sys.stderr
    print(f"{'idx':>4}  {'field':<12} {'count':>5}  examples",
          file=outfile)
    for i, (c, nm) in enumerate(zip(candidates, names)):
        exs = " | ".join(_shorten(e) for e in c["examples"][:4])
        print(f"{i:>4}  {nm:<12} {c['count']:>5}  {exs}", file=outfile)
    while True:
        print("fields to keep (e.g. '0 2 4-6'; empty/'all' = all, "
              "'none' = abort): ", end="", file=outfile)
        outfile.flush()
        raw = infile.readline()
        line = raw.strip().lower()
        if line in ("", "all"):
            return list(range(len(candidates)))
        if line == "none":
            return []
        try:
            keep = []
            for part in line.replace(",", " ").split():
                if "-" in part:
                    lo, hi = part.split("-", 1)
                    keep.extend(range(int(lo), int(hi) + 1))
                else:
                    keep.append(int(part))
            return keep
        except ValueError:
            # re-prompt; at EOF readline() yields '' which the next
            # pass treats as 'all', so a closed pipe can't loop forever
            print(f"could not parse '{line}' — indices, ranges, 'all' "
                  "or 'none'", file=outfile)


def cmd_generate(args):
    import dataclasses

    import yaml

    from .ops.autoconfig import generate_and_verify

    html = open(args.file, encoding="utf-8").read()
    select = interactive_field_select if args.interactive else None
    scraper, items = generate_and_verify(html, args.url,
                                         min_occ=args.min_occ,
                                         select=select)
    if scraper is None:
        print("no repeating fields found", file=sys.stderr)
        return 1

    def clean(obj):
        if dataclasses.is_dataclass(obj):
            out = {}
            for f in dataclasses.fields(obj):
                v = clean(getattr(obj, f.name))
                if v not in ("", [], {}, None, False, 0):
                    out[f.name] = v
            return out
        if isinstance(obj, list):
            return [clean(x) for x in obj]
        return obj

    print(yaml.safe_dump({"scrapers": [clean(scraper)]}, sort_keys=False,
                         allow_unicode=True))
    print(f"# verified: {len(items)} items extracted from the sample page",
          file=sys.stderr)
    return 0


def cmd_extract(args):
    """`extract` parity (cmd/goskyr/main.go:300-318, ml.go:55-74):
    raw-mode scrape every scraper in the config, compute the 34-dim
    feature vector per (field, value), write the reference's CSV."""
    import os

    from .ops.mlfeatures import features_row, write_features_csv
    from .ops.wordlist import default_words, load_words

    cfg = load_config(args.config)
    if os.path.exists(args.word_lists):
        word_set = load_words(args.word_lists)
    else:
        # the reference hard-errors on a missing word-lists dir
        # (ml.go:77 WalkDir); default to the built-in deterministic
        # dictionary so the command works out of the box, loudly.
        print(f"word-lists dir '{args.word_lists}' not found; using the "
              "built-in dictionary", file=sys.stderr)
        word_set = default_words()

    rows = []

    def run_one(s):
        # rawDyn scrape: no subpages, no date assembly (scraper.go
        # Scrape(true)); failures log + continue like the reference's
        # calculateScraperFeatures (ml.go:139-146)
        try:
            items, _ = scrape_local(
                s, _fetch_fn(s, debug=args.debug), raw_dyn=True)
            return s.name, items, None
        except Exception as e:
            return s.name, [], str(e)

    workers = min(20, max(1, len(cfg.scrapers)))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for name, items, err in pool.map(run_one, cfg.scrapers):
            if err:
                print(f"{name} ERROR: {err}", file=sys.stderr)
                continue
            for item in items:
                for fname, fvalue in item.items():
                    if not isinstance(fvalue, str):
                        continue
                    rows.append((features_row(fvalue, word_set), fname))
    write_features_csv(rows, args.out_file)
    print(f"wrote {len(rows)} feature rows to {args.out_file}",
          file=sys.stderr)
    return 0


def cmd_train(args):
    """`train` parity (main.go:321-332, ml.go:221-258): 75/25 split,
    euclidean KNN k=2, print the confusion summary, write
    goskyr.model + goskyr.class (class values in training-data order)."""
    from .ops.mlfeatures import (confusion_summary, read_features_csv,
                                 train_model)

    X, y = read_features_csv(args.feature_file)
    if not len(X):
        print(f"no feature rows in {args.feature_file}", file=sys.stderr)
        return 1
    model, _acc, (y_true, y_pred) = train_model(X, y, return_test=True)
    print(confusion_summary(y_true, y_pred))
    model_file, classes_file = "goskyr.model", "goskyr.class"
    model.save(model_file)
    with open(classes_file, "w", encoding="utf-8") as fh:
        # first-appearance order over the FULL label array as parsed
        # from the CSV, matching golearn's CategoricalAttribute.GetValues
        # (ml.go:248): golearn accumulates class values while parsing the
        # WHOLE file (train/test share attribute objects), so classes
        # that only appear in the held-out quarter must still be listed
        for value in dict.fromkeys(y):
            fh.write(f"{value}\n")
    print(f"storing model to files {model_file} and {classes_file}",
          file=sys.stderr)
    return 0


def _parser_tree(parser):
    """{subcommand: {option strings}} from the live argparse tree — the
    completion scripts are GENERATED from this, so they can never drift
    from the real CLI surface."""
    tree = {}
    for action in parser._actions:
        if isinstance(action, argparse._SubParsersAction):
            for name, sp in action.choices.items():
                opts = []
                for a in sp._actions:
                    opts.extend(a.option_strings)
                tree[name] = opts
    return tree


# option strings whose VALUE is a path — completed with filenames
_FILE_OPTS = {"-c", "--config", "--file", "--pages", "--seeds",
              "--workdir", "-o", "--out-file", "-w", "--word-lists",
              "-f", "--feature-file"}


def completion_script(parser, shell):
    """Shell completion for the CLI (reference parity:
    /root/reference/completions/goskyr.bash + the kong completion
    subcommand), generated from the argparse tree. bash and zsh share
    the bash script (zsh via bashcompinit, the stock compatibility
    path); fish gets native ``complete`` statements."""
    prog = "goskyr-spark"
    tree = _parser_tree(parser)
    subs = " ".join(sorted(tree))
    if shell in ("bash", "zsh"):
        cases = []
        for name in sorted(tree):
            file_opts = " | ".join(sorted(
                o for o in tree[name] if o in _FILE_OPTS))
            if file_opts:
                cases.append(
                    f"    '{name}'*)\n"
                    f"      case \"$prev\" in\n"
                    f"        {file_opts})\n"
                    "          COMPREPLY=($(compgen -A file -- \"$cur\"))"
                    " ;;\n"
                    "        *)\n"
                    f"          COMPREPLY=($(compgen -W "
                    f"\"{' '.join(tree[name])}\" -- \"$cur\")) ;;\n"
                    "      esac ;;")
            else:
                cases.append(
                    f"    '{name}'*)\n"
                    f"      COMPREPLY=($(compgen -W "
                    f"\"{' '.join(tree[name])}\" -- \"$cur\")) ;;")
        body = "\n".join(cases)
        script = f"""# bash completion for {prog} (generated: \
`{prog} completion --shell bash`)
_goskyr_spark_completions() {{
  local cur=${{COMP_WORDS[COMP_CWORD]}}
  local prev=${{COMP_WORDS[COMP_CWORD-1]}}
  local compwords=("${{COMP_WORDS[@]:1:$COMP_CWORD-1}}")
  local compline="${{compwords[*]}}"
  case "$compline" in
{body}
    *)
      COMPREPLY=($(compgen -W "{subs} --help -h" -- "$cur")) ;;
  esac
}} &&
complete -F _goskyr_spark_completions {prog}
"""
        if shell == "zsh":
            script = ("# zsh completion via bash compatibility "
                      "(autoload -U +X bashcompinit && bashcompinit)\n"
                      + script)
        return script
    if shell == "fish":
        lines = [f"# fish completion for {prog} (generated)"]
        for name in sorted(tree):
            lines.append(
                f"complete -c {prog} -n '__fish_use_subcommand' "
                f"-a {name}")
            for o in tree[name]:
                if not o.startswith("--"):
                    continue
                flag = o[2:]
                suffix = (" -r -F" if o in _FILE_OPTS or
                          ("-" + flag[0]) in _FILE_OPTS else "")
                lines.append(
                    f"complete -c {prog} "
                    f"-n '__fish_seen_subcommand_from {name}' "
                    f"-l {flag}{suffix}")
        return "\n".join(lines) + "\n"
    raise ValueError(f"unsupported shell: {shell}")


def cmd_completion(args):
    print(completion_script(build_parser(), args.shell), end="")
    return 0


def build_parser():
    from . import __version__

    p = argparse.ArgumentParser(prog="goskyr_spark")
    # global flags — reference parity (main.go:44-45)
    p.add_argument("-v", "--version", action="version",
                   version=__version__,
                   help="print the version and exit")
    p.add_argument("-d", "--debug", action="store_true",
                   help="set log level to debug and store fetched HTML "
                        "under ./debug (DebugDirDefault, fetcher.go:26)")
    sub = p.add_subparsers(dest="cmd", required=True)

    ps = sub.add_parser("scrape", help="run scrapers from a YAML config")
    ps.add_argument("-c", "--config", default="./config.yml")
    ps.add_argument("-n", "--name", default="", help="run a single scraper")
    ps.set_defaults(fn=cmd_scrape)

    pl = sub.add_parser("list", help="list scraper names")
    pl.add_argument("-c", "--config", default="./config.yml")
    pl.set_defaults(fn=cmd_list)

    pg = sub.add_parser("generate",
                        help="infer a scraper config from a sample page")
    pg.add_argument("--file", required=True, help="local HTML file")
    pg.add_argument("--url", default="https://sample.test/")
    pg.add_argument("--min-occ", type=int, default=5)
    pg.add_argument("-i", "--interactive", action="store_true",
                    help="show the discovered-field table and pick "
                         "which fields to keep (reference -i flag)")
    pg.set_defaults(fn=cmd_generate)

    pc = sub.add_parser("crawl", help="run crawl rounds over a pages "
                        "table or live HTTP")
    pc.add_argument("--workdir", required=True)
    pc.add_argument("-c", "--config", default="",
                    help="goskyr config: scraper + seed urls")
    pc.add_argument("--live", action="store_true",
                    help="real HTTP fetching (no pages table)")
    pc.add_argument("--pages", default="", help="parquet pages table path")
    pc.add_argument("--seeds", default="", help="file with seed urls")
    pc.add_argument("--hosts", type=int, default=10,
                    help="synthetic web size when --pages is not given")
    pc.add_argument("--max-rounds", type=int, default=20)
    pc.add_argument("--canonicalize", action="store_true",
                    help="RFC 3986-normalize outlinks and seeds before "
                         "the seen-set test (frontier hygiene)")
    pc.add_argument("--adaptive", action="store_true",
                    help="adaptive host priority: schedule item-yielding"
                         " hosts earlier, failing hosts later (feedback "
                         "from the fetched-history table)")
    pc.set_defaults(fn=cmd_crawl)

    pe = sub.add_parser("extract",
                        help="extract ML features from a config's "
                             "scrapers (raw mode) to a CSV file")
    pe.add_argument("-c", "--config", default="./config.yml")
    pe.add_argument("-o", "--out-file", required=True,
                    help="output CSV (reference feature-file format)")
    pe.add_argument("-w", "--word-lists", default="word-lists",
                    help="directory of word-list files (one word per "
                         "line); built-in dictionary if missing")
    pe.set_defaults(fn=cmd_extract)

    pt = sub.add_parser("train",
                        help="train the KNN field classifier; writes "
                             "goskyr.model and goskyr.class")
    pt.add_argument("-f", "--feature-file", required=True,
                    help="CSV produced by `extract`")
    pt.set_defaults(fn=cmd_train)

    pco = sub.add_parser("completion",
                         help="emit a shell completion script")
    pco.add_argument("-s", "--shell", default="bash",
                     choices=["bash", "zsh", "fish"])
    pco.set_defaults(fn=cmd_completion)

    return p


def main(argv=None):
    p = build_parser()
    args = p.parse_args(argv)
    if getattr(args, "debug", False):
        import logging

        logging.basicConfig(level=logging.DEBUG)
        logging.getLogger().setLevel(logging.DEBUG)
    try:
        return args.fn(args)
    except ConfigError as e:
        print(f"config error: {e}", file=sys.stderr)
        return 1
    except FileNotFoundError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
