"""Scraper configuration model — same YAML dialect as the reference.

Mirrors /root/reference/internal/scraper/scraper.go:46-293 (ScraperConfig,
Scraper, Field, ElementLocation, DateComponent, Filter, Paginator) and the
load/merge rules of NewScraperConfig (scraper.go:59-123): a path may be a
file or a directory (all files merged; at most one writer and one global
section), global user_agent/debug_dir propagate to scrapers that don't set
their own, and the writer defaults to stdout.

The parsed config is a plain-Python broadcastable object; validation that
the reference performs at scrape start (filter initialization,
scraper.go:500-516) lives in kernels.filters.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field
from typing import Optional

import yaml

# libyaml's safe loader when PyYAML was built with it (several times
# faster per parse; a crawl kernel builds one scraper per host it meets),
# else the pure-Python one. Both build the same objects and refuse
# python/* tags.
_LOADER = getattr(yaml, "CSafeLoader", yaml.SafeLoader)


class ConfigError(ValueError):
    pass


@dataclass
class RegexConfig:
    exp: str = ""
    index: int = 0
    ignore_errors: bool = False

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(exp=d.get("exp", ""), index=int(d.get("index", 0)),
                   ignore_errors=bool(d.get("ignore_errors", False)))


@dataclass
class ElementLocation:
    selector: str = ""
    json_selector: str = ""
    child_index: int = 0
    regex_extract: RegexConfig = dc_field(default_factory=RegexConfig)
    attr: str = ""
    max_length: int = 0
    entire_subtree: bool = False
    all_nodes: bool = False
    separator: str = ""
    default: str = ""

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(
            selector=d.get("selector", ""),
            json_selector=d.get("json_selector", ""),
            child_index=int(d.get("child_index", 0)),
            regex_extract=RegexConfig.from_dict(d.get("regex_extract")),
            attr=d.get("attr", ""),
            max_length=int(d.get("max_length", 0)),
            entire_subtree=bool(d.get("entire_subtree", False)),
            all_nodes=bool(d.get("all_nodes", False)),
            separator=d.get("separator", ""),
            default=d.get("default", ""),
        )


@dataclass
class TransformConfig:
    type: str = ""
    regex: str = ""
    replace: str = ""

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(type=d.get("type", ""), regex=d.get("regex", ""),
                   replace=d.get("replace", ""))


@dataclass
class CoveredDateParts:
    day: bool = False
    month: bool = False
    year: bool = False
    time: bool = False

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(day=bool(d.get("day")), month=bool(d.get("month")),
                   year=bool(d.get("year")), time=bool(d.get("time")))

    def has_all(self):
        return self.day and self.month and self.year and self.time


@dataclass
class DateComponent:
    covers: CoveredDateParts = dc_field(default_factory=CoveredDateParts)
    location: ElementLocation = dc_field(default_factory=ElementLocation)
    layout: Optional[list] = None
    transform: list = dc_field(default_factory=list)

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        layout = d.get("layout")
        if isinstance(layout, str):
            layout = [layout]
        return cls(
            covers=CoveredDateParts.from_dict(d.get("covers")),
            location=ElementLocation.from_dict(d.get("location")),
            layout=list(layout) if layout is not None else None,
            transform=[TransformConfig.from_dict(t)
                       for t in (d.get("transform") or [])],
        )


@dataclass
class Field:
    name: str = ""
    value: str = ""
    type: str = ""  # '', 'text', 'url', 'date'
    location: list = dc_field(default_factory=list)  # list[ElementLocation]
    separator: str = ""
    on_subpage: str = ""
    can_be_empty: bool = False
    components: list = dc_field(default_factory=list)  # list[DateComponent]
    date_location: str = ""
    date_language: str = ""
    hide: bool = False
    guess_year: bool = False
    transform: list = dc_field(default_factory=list)

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        loc = d.get("location")
        # single mapping or list of mappings (ElementLocations.UnmarshalYAML,
        # scraper.go:188-202)
        if loc is None:
            locations = []
        elif isinstance(loc, list):
            locations = [ElementLocation.from_dict(x) for x in loc]
        else:
            locations = [ElementLocation.from_dict(loc)]
        return cls(
            name=d.get("name", ""),
            value=d.get("value", "") or "",
            type=d.get("type", "") or "",
            location=locations,
            separator=d.get("separator", ""),
            on_subpage=d.get("on_subpage", "") or "",
            can_be_empty=bool(d.get("can_be_empty", False)),
            components=[DateComponent.from_dict(c)
                        for c in (d.get("components") or [])],
            date_location=d.get("date_location", "") or "",
            date_language=d.get("date_language", "") or "",
            hide=bool(d.get("hide", False)),
            guess_year=bool(d.get("guess_year", False)),
            transform=[TransformConfig.from_dict(t)
                       for t in (d.get("transform") or [])],
        )


@dataclass
class FilterConfig:
    field: str = ""
    exp: str = ""
    match: bool = False

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(field=d.get("field", ""), exp=d.get("exp", ""),
                   match=bool(d.get("match", False)))


@dataclass
class Paginator:
    location: ElementLocation = dc_field(default_factory=ElementLocation)
    max_pages: int = 0

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(location=ElementLocation.from_dict(d.get("location")),
                   max_pages=int(d.get("max_pages", 0)))


@dataclass
class Interaction:
    """A page interaction for the dynamic fetcher — parity with
    /root/reference/internal/types/types.go:7-12. Types: 'click' (on
    selector, `count` times, `delay` ms between — defaults 1 / 500ms in
    the fetcher, dynamicfetcher.go:91-99) and 'scroll' (to page bottom).
    Unknown types are kept and warned about at fetch time, matching the
    reference (dynamicfetcher.go:125-127)."""
    type: str = ""
    selector: str = ""
    count: int = 0
    delay: int = 0  # milliseconds

    TYPE_CLICK = "click"
    TYPE_SCROLL = "scroll"

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(type=d.get("type", "") or "",
                   selector=d.get("selector", "") or "",
                   count=int(d.get("count", 0)),
                   delay=int(d.get("delay", 0)))


@dataclass
class FetcherConfig:
    type: str = ""  # '', 'static', 'dynamic', 'mock'
    user_agent: str = ""
    debug_dir: str = ""
    mock_pages: list = dc_field(default_factory=list)  # [{'url','content'}]

    DEFAULT_USER_AGENT = "goskyr web scraper (github.com/jakopako/goskyr)"

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(type=d.get("type", "") or "",
                   user_agent=d.get("user_agent", "") or "",
                   debug_dir=d.get("debug_dir", "") or "",
                   mock_pages=list(d.get("mock_pages") or []))


@dataclass
class Scraper:
    name: str = ""
    url: str = ""
    item: str = ""
    fields: list = dc_field(default_factory=list)
    filters: list = dc_field(default_factory=list)
    paginator: Paginator = dc_field(default_factory=Paginator)
    fetcher: FetcherConfig = dc_field(default_factory=FetcherConfig)
    # scraper-level page interactions, run by the dynamic fetcher on the
    # initial page load (reference scraper.go:290,351)
    interaction: list = dc_field(default_factory=list)

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(
            name=d.get("name", ""),
            url=d.get("url", ""),
            item=d.get("item", ""),
            fields=[Field.from_dict(f) for f in (d.get("fields") or [])],
            filters=[FilterConfig.from_dict(f)
                     for f in (d.get("filters") or [])],
            paginator=Paginator.from_dict(d.get("paginator")),
            fetcher=FetcherConfig.from_dict(d.get("fetcher")),
            interaction=[Interaction.from_dict(i)
                         for i in (d.get("interaction") or [])],
        )


@dataclass
class WriterConfig:
    type: str = ""
    filedir: str = ""
    uri: str = ""
    user: str = ""
    password: str = ""
    write_status: bool = False
    batch_size: int = 100
    dry_run: bool = False       # reference: writer.go:30 `dryrun`
    uri_dry_run: str = ""       # reference: writer.go:31 `uri_dryrun`

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(type=d.get("type", "") or "",
                   filedir=d.get("filedir", "") or "",
                   uri=d.get("uri", "") or "",
                   user=d.get("user", "") or "",
                   password=d.get("password", "") or "",
                   write_status=bool(d.get("write_status", False)),
                   batch_size=int(d.get("batch_size", 100)),
                   dry_run=bool(d.get("dryrun", False)),
                   uri_dry_run=d.get("uri_dryrun", "") or "")


@dataclass
class GlobalConfig:
    user_agent: str = ""
    debug_dir: str = ""

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        return cls(user_agent=d.get("user_agent", "") or "",
                   debug_dir=d.get("debug_dir", "") or "")


@dataclass
class ScraperConfig:
    writer: WriterConfig = dc_field(default_factory=WriterConfig)
    scrapers: list = dc_field(default_factory=list)
    global_: Optional[GlobalConfig] = None

    @classmethod
    def from_dict(cls, d):
        d = d or {}
        g = d.get("global")
        return cls(
            writer=WriterConfig.from_dict(d.get("writer")),
            scrapers=[Scraper.from_dict(s) for s in (d.get("scrapers") or [])],
            global_=GlobalConfig.from_dict(g) if g is not None else None,
        )


def load_config(path):
    """NewScraperConfig (scraper.go:59-123): file or directory merge."""
    if not os.path.exists(path):
        raise ConfigError(f"stat {path}: no such file or directory")
    config = ScraperConfig()
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for fn in sorted(files):
                tmp = _load_one(os.path.join(root, fn))
                config.scrapers.extend(tmp.scrapers)
                if tmp.writer.type != "":
                    if config.writer.type == "":
                        config.writer = tmp.writer
                    else:
                        raise ConfigError(
                            "config files must only contain max. one writer config")
                if tmp.global_ is not None:
                    if config.global_ is None:
                        config.global_ = tmp.global_
                    else:
                        raise ConfigError(
                            "config files must only contain max. one global config")
    else:
        config = _load_one(path)
    return _finish(config)


def _finish(config):
    """Post-parse defaults shared by load_config and loads_config: the
    global user_agent/debug_dir go to scrapers that don't set their own,
    and the writer defaults to stdout."""
    if config.global_ is not None:
        for s in config.scrapers:
            if s.fetcher.user_agent == "" and config.global_.user_agent != "":
                s.fetcher.user_agent = config.global_.user_agent
            if s.fetcher.debug_dir == "" and config.global_.debug_dir != "":
                s.fetcher.debug_dir = config.global_.debug_dir
    if config.writer.type == "":
        config.writer.type = "stdout"
    return config


def _parse(stream):
    return yaml.load(stream, Loader=_LOADER) or {}


def _load_one(path):
    with open(path, "r", encoding="utf-8") as f:
        return ScraperConfig.from_dict(_parse(f))


def loads_config(text):
    """Parse a single YAML config string (driver-side convenience)."""
    return _finish(ScraperConfig.from_dict(_parse(text)))
