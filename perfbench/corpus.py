"""Seeded load generator for the crawl benchmark.

Builds a Common-Crawl-style ``pages`` corpus (url, warc_ts, html, text,
lang) in the driver with plain Python and writes it with pyarrow: no
Spark job, so generation cost never leaks into the measured phases.

``html`` uses the word-box dialect the extraction layer parses
(``<div class="pg" data-h=..>`` pages of ``<span class="w" data-l/r/t/b>``
words, then ``<a href>`` links). ``text`` is the golden markdown, built
top-down from the document spec, never by running the converter; the
benchmark checks the engine's extraction against it byte for byte.

The link graph is an explicit tree (every page also links back to the
root, which exercises the URL-seen set), so the generator knows the
reachable set and the pre-order DFS crawl order the engine must
reproduce. The generator belongs to the benchmark: a change to the
program's own fixture generator cannot change a workload, and
``digest`` pins what this one produces.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import html as _html
import os
import random
from dataclasses import dataclass

_NOUNS = (
    "badge", "facility", "equipment", "locker", "waiver", "schedule",
    "entry", "permit", "visitor", "vehicle", "ladder", "respirator",
)
_VERBS = ("review", "submit", "record", "inspect", "approve", "update", "verify", "archive")
_ORGS = ("Facilities Services", "Safety Office", "Site Operations", "Security Group")
_NAMES = ("John Smith", "Jane Doe", "Alex Lee", "Sam Carter")
_LANGS = ("en", "de", "fr")

HOT_HOST = "hot.example.com"

# word-box geometry of the dialect (points, PDF-style y axis)
_X0, _CHAR_W, _GAP = 72.0, 6.0, 4.0
_ANCHORS = (72.0, 172.0, 342.0)
_PAGE_H, _Y0, _DY = 792.0, 720.0, 14.0
_N_DOC_PAGES = 4
_HEADER = "Example Corporation Internal"
_FOOTER = "Example Corp Confidential"


@dataclass(frozen=True)
class Shape:
    """Seed-independent structure of one workload's corpus.

    ``fanout[d]`` is the number of children of every depth-``d`` page;
    the tree has ``1 + fanout[0] + fanout[0]*fanout[1] + ...`` pages.
    With ``hot_share`` set, that share of the pages (root included)
    lives on one host and the rest spread over ``n_hosts`` cold hosts.
    ``n_empty`` leaves among the first quarter of the pages get empty
    html, so their fetch fails."""

    fanout: tuple[int, ...]
    n_hosts: int
    hot_share: float | None = None
    n_empty: int = 0

    @property
    def n_pages(self) -> int:
        total = level = 1
        for f in self.fanout:
            level *= f
            total += level
        return total

    @property
    def n_hot(self) -> int:
        return self.n_pages - round(self.n_pages * (1 - self.hot_share)) if self.hot_share else 0


@dataclass
class Corpus:
    urls: list[str]
    html: list[bytes]
    text: list[str]
    children: list[list[int]]  # page index -> child page indexes, link order
    depth: list[int]  # link distance from the root
    hosts: list[str]
    empty: set[int]  # pages whose html is empty (fetch fails)

    @property
    def n(self) -> int:
        return len(self.urls)

    def dfs_order(self) -> list[int]:
        """Pre-order DFS from the root over the tree links, children in
        link order: the crawl order the engine must reproduce. Empty
        pages are reached but yield no links."""
        out: list[int] = []
        stack = [0]
        while stack:
            i = stack.pop()
            out.append(i)
            stack.extend(reversed(self.children[i]))
        return out

    def digest(self) -> str:
        h = hashlib.sha256()
        for u, b, t in zip(self.urls, self.html, self.text):
            for part in (u.encode(), b, t.encode()):
                h.update(len(part).to_bytes(8, "little"))
                h.update(part)
        return h.hexdigest()


# ------------------------------------------------------------ documents


def _doc_spec(rng: random.Random, i: int) -> dict:
    noun, noun2 = rng.sample(_NOUNS, 2)
    verb, verb2 = rng.sample(_VERBS, 2)
    site = rng.randrange(10)
    sections = [
        ("1.0", "Purpose", [[f"This procedure defines handling of the {noun}",
                             f"for employees and registered contractors on site {site}."]], None),
        ("2.0", "Scope", [[f"Applies to all {noun2} holders."]], None),
        ("4.0", "Responsibilities", [["Employees must:"], [f"a. Sign the {noun} register"],
                                     [f"b) Present a valid {noun2}"]], None),
        ("6.0", "Process", [], ([("1.", "Employee", f"Complete the {noun} form"),
                                 ("2.", "Staff", f"{verb2.capitalize()} the {noun2}")],
                                f"and archive the {noun} record")),
        ("7.0", "References", [[f"{noun.capitalize()} safety manual."]], None),
    ]
    return {
        "doc_no": f"CLG-EN-PR-{1000 + i % 9000:04d}",
        "title": f"{noun.capitalize()} {verb.capitalize()} Procedure",
        "eff": f"{rng.randrange(12) + 1:02d}/{rng.randrange(28) + 1:02d}/{2020 + rng.randrange(6)}",
        "rev": chr(ord("A") + rng.randrange(26)),
        "org": rng.choice(_ORGS),
        "approver": rng.choice(_NAMES),
        "sections": sections,
    }


def _section_lines(sec) -> list[str]:
    num, title, paragraphs, table = sec
    lines = [f"{num} {title}"]
    for para in paragraphs:
        lines.extend(para)
    if table:
        rows, wrap = table
        lines.append("Step\tResponsibility\tAction")
        lines.extend("\t".join(r) for r in rows)
        lines.append("\t\t" + wrap)
    return lines


def _page_lines(spec: dict) -> list[list[str]]:
    """Physical lines per page: banner grid + two sections on page 1,
    the other sections spread over pages 2..n (a section never splits
    across pages), header/footer banners on every page."""
    grid = [
        "Management System", "Standard Operating Procedure", "Document No.: Page:",
        f"{spec['doc_no']} 1 of {_N_DOC_PAGES}", spec["title"], "Effective Date: Revision:",
        f"{spec['eff']} {spec['rev']}", f"Accountable Organization: {spec['org']}",
        f"Management Approval: {spec['approver']}", "Source: Internal",
    ]
    per_page: list[list] = [[] for _ in range(_N_DOC_PAGES)]
    per_page[0] = spec["sections"][:2]
    rest = spec["sections"][2:]
    for j, sec in enumerate(rest):
        per_page[1 + j * (_N_DOC_PAGES - 1) // len(rest)].append(sec)
    pages = []
    for p, secs in enumerate(per_page):
        lines = [_HEADER] + (grid if p == 0 else [])
        for sec in secs:
            lines += _section_lines(sec)
        lines += [_FOOTER, f"Page: {p + 1} of {_N_DOC_PAGES}"]
        pages.append(lines)
    return pages


def _render(spec: dict, links: list[str]) -> bytes:
    out = [b"<!doctype html><html><body>"]
    for lines in _page_lines(spec):
        out.append(f'<div class="pg" data-h="{_PAGE_H}">'.encode())
        y = _Y0
        for line in lines:
            cells = line.split("\t") if "\t" in line else [line]
            for c, cell in enumerate(cells):
                x = _ANCHORS[c] if len(cells) > 1 else _X0
                for w in cell.split():
                    r = x + len(w) * _CHAR_W
                    out.append(
                        f'<span class="w" data-l="{x}" data-r="{r}" data-t="{y + 5}" '
                        f'data-b="{y - 5}">{_html.escape(w, quote=False)}</span>'.encode()
                    )
                    x = r + _GAP
            y -= _DY
        out.append(b"</div>")
    out.extend(f'<a href="{_html.escape(h)}">link</a>'.encode() for h in links)
    out.append(b"</body></html>")
    return b"".join(out)


def _golden(spec: dict) -> str:
    """Markdown from the spec: H1 title, '#' * min(6, 2 + dots) section
    headings, each crafted paragraph merged onto one line, the process
    table with its wrapped row merged into the last Action cell by a
    double space, two blank lines after a table, trimmed + one newline."""
    out = [f"# {spec['title']}", ""]
    for num, title, paragraphs, table in spec["sections"]:
        out += ["#" * min(6, 2 + num.count(".")) + f" {num} {title}", ""]
        for para in paragraphs:
            out += [" ".join(para), ""]
        if table:
            rows, wrap = table
            rows = [list(r) for r in rows]
            rows[-1][2] += "  " + wrap
            out.append("| Step | Responsibility | Action |")
            out.append("| --- | --- | --- |")
            out += ["| " + " | ".join(r) + " |" for r in rows]
            out += ["", ""]
    return "\n".join(out).strip() + "\n"


# --------------------------------------------------------------- corpus


def _tree(fanout: tuple[int, ...]) -> tuple[list[list[int]], list[int]]:
    children: list[list[int]] = [[]]
    depth = [0]
    level = [0]
    for d, f in enumerate(fanout, 1):
        nxt = []
        for p in level:
            for _ in range(f):
                children.append([])
                depth.append(d)
                children[p].append(len(children) - 1)
                nxt.append(len(children) - 1)
        level = nxt
    return children, depth


def build(shape: Shape, seed: int) -> Corpus:
    """The corpus for ``(shape, seed)``: a pure function of both. The
    seed picks every document's words, the host of every page and which
    leaves are empty; the tree shape is fixed by ``shape``."""
    rng = random.Random(f"perfbench:{seed}")
    children, depth = _tree(shape.fanout)
    n = len(children)
    cold_hosts = [f"h{j:02d}-{rng.randrange(1 << 16):04x}.example.org" for j in range(shape.n_hosts)]
    if shape.hot_share is None:
        hosts = [cold_hosts[rng.randrange(shape.n_hosts)] if i else cold_hosts[0] for i in range(n)]
    else:
        cold = set(rng.sample(range(1, n), n - shape.n_hot))
        hosts = [cold_hosts[rng.randrange(shape.n_hosts)] if i in cold else HOT_HOST for i in range(n)]
    leaves = [i for i in range(1, max(n // 4, 2)) if not children[i]]
    empty = set(rng.sample(leaves, shape.n_empty))
    tag = f"{rng.randrange(1 << 32):08x}"
    urls = [f"https://{hosts[i]}/docs/{tag}/p{i}" for i in range(n)]
    html, text = [], []
    for i in range(n):
        spec = _doc_spec(random.Random(f"perfbench:{seed}:{i}"), i)
        links = [urls[c] for c in children[i]] + ([urls[0]] if i else [])
        html.append(b"" if i in empty else _render(spec, links))
        text.append(_golden(spec))
    return Corpus(urls, html, text, children, depth, hosts, empty)


def write_parquet(corpus: Corpus, path: str) -> None:
    """Write the corpus as one parquet file and fsync it, so the page
    cache holds no dirty corpus bytes once set-up starts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    table = pa.table(
        {
            "url": pa.array(corpus.urls, pa.string()),
            "warc_ts": pa.array(
                [base + dt.timedelta(seconds=37 * i) for i in range(corpus.n)],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array(corpus.html, pa.binary()),
            "text": pa.array(corpus.text, pa.string()),
            "lang": pa.array([_LANGS[i % 3] for i in range(corpus.n)], pa.string()),
        }
    )
    pq.write_table(table, path)
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
