#!/usr/bin/env python3
"""Generate QUERIES.md: one row per registered query.

Parses every QueryDef("name", fn, oracle) registration under
src/main/scala/graft, locates the implementing def, collects the test
suites that mention the query by full name, and lifts the first sentence
of the def's scaladoc as the summary. QueriesSmokeSpec asserts the
committed file's row set equals SparkEntry.allDefs at test time, so the
table cannot drift from the registry.

Run from the repo root:  python3 tools/gen_queries_md.py
With --check it writes nothing: it exits 1 and names the rows that differ
from the committed file when that file is stale.
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN = ROOT / "src/main/scala/graft"
TEST = ROOT / "src/test/scala/graft"

main_files = sorted(MAIN.rglob("*.scala"))
test_files = sorted(TEST.rglob("*.scala"))


def parse_defs():
    """-> {name: (fn, oracle_bool, reg_file)}"""
    out = {}
    pat = re.compile(r'QueryDef\(\s*"([^"]+)"\s*,\s*([A-Za-z0-9_.]+)\s*,')
    for f in main_files:
        text = f.read_text()
        for m in pat.finditer(text):
            name, fn = m.group(1), m.group(2)
            # Scan forward past comments/whitespace for Some( or None.
            rest = text[m.end():m.end() + 600]
            rest = re.sub(r"//[^\n]*", "", rest)
            tok = re.search(r"\b(Some|None)\b", rest)
            oracle = tok is not None and tok.group(1) == "Some"
            out[name] = (fn, oracle, f)
    return out


def find_def(fn, reg_file):
    """Locate `def <fn>` (same file first, then anywhere) -> (path, line)."""
    pat = re.compile(r"^\s*(?:private(?:\[\w+\])?\s+)?def\s+" + re.escape(fn) + r"\b")
    for f in [reg_file] + [x for x in main_files if x != reg_file]:
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if pat.search(line):
                return f, i
    return reg_file, 0


def scaladoc_first_sentence(path, line):
    """First sentence of the scaladoc block ending just above `line`."""
    lines = path.read_text().splitlines()
    i = line - 2  # 0-based line above the def
    # Walk up past other defs' bodies? No: only take an immediately
    # preceding doc block (allow blank lines / annotations between).
    while i >= 0 and lines[i].strip() == "":
        i -= 1
    if i < 0 or not lines[i].strip().endswith("*/"):
        return ""
    end = i
    while i >= 0 and "/**" not in lines[i]:
        i -= 1
    if i < 0:
        return ""
    block = " ".join(
        re.sub(r"^\s*(/\*\*|\*/|\*)\s?", "", lines[j]) for j in range(i, end + 1))
    block = re.sub(r"\[\[([^\]]+)\]\]", r"\1", block)
    block = re.sub(r"\s+", " ", block).strip()
    # First sentence: cut at the first ". " or " — " clause boundary past 20 chars.
    m = re.search(r"[.:](\s|$)", block[20:])
    if m:
        block = block[: 20 + m.start() + 1]
    return block.rstrip(".:") + "." if block else ""


def spec_mentions(name):
    hits = []
    for f in test_files:
        if name in f.read_text():
            hits.append(f.stem)
    return hits


defs = parse_defs()


def qnum(name):
    m = re.match(r"q(\d+)", name)
    return int(m.group(1)) if m else 10 ** 9


def delegate_doc(path, line):
    """A doc-less qNNN def usually delegates to a documented helper —
    chase the first helper identifier called in its body."""
    lines = path.read_text().splitlines()
    body = " ".join(lines[line - 1 : line + 6])
    for ident in re.findall(r"(?<![.\w])([a-z][A-Za-z0-9]+)\s*\(", body):
        if ident in ("col", "expr", "lit", "when", "def"):
            continue
        p, l = find_def(ident, path)
        if l:
            doc = scaladoc_first_sentence(p, l)
            if doc:
                return doc
    return ""


rows = []
for name in sorted(defs, key=qnum):
    fn, oracle, reg_file = defs[name]
    path, line = find_def(fn, reg_file)
    rel = path.relative_to(ROOT)
    doc = scaladoc_first_sentence(path, line) or delegate_doc(path, line)
    if len(doc) > 140:
        doc = doc[:137] + "..."
    specs = spec_mentions(name)
    spec_cell = ", ".join(specs) if specs else "(oracle only)"
    rows.append(
        f"| {name} | `{rel}:{line}` | {'yes' if oracle else 'no'} "
        f"| {spec_cell} | {doc} |")

header = f"""# QUERIES.md — generated per-query index

Generated by `tools/gen_queries_md.py` from the `QueryDef` registrations
under `src/main/scala/graft`; QueriesSmokeSpec asserts this file's row
set equals `SparkEntry.allDefs` (name-for-name), so the table cannot
drift from the registry. Re-run the script after adding a query;
`python3 tools/gen_queries_md.py --check` names stale rows and writes nothing.

{len(rows)} queries registered. "Oracle" = a DuckDB SQL oracle on the
driver's rows+schema+hash gate; "Specs" = test suites that reference the
query by name (every query is additionally executed by QueriesSmokeSpec
and timed by Bench).

| Query | Implementation | Oracle | Specs | Summary |
|---|---|---|---|---|
"""

if len(rows) != len(defs):
    sys.exit("row/def count mismatch")
out = header + "\n".join(rows) + "\n"
target = ROOT / "QUERIES.md"
if "--check" not in sys.argv[1:]:
    target.write_text(out)
    print(f"wrote QUERIES.md with {len(rows)} rows")
    sys.exit(0)
old = target.read_text() if target.exists() else ""
if old == out:
    print(f"QUERIES.md is current ({len(rows)} rows)")
    sys.exit(0)


def by_name(text):
    return {l.split("|")[1].strip(): l for l in text.splitlines() if l.startswith("| q")}


have, want = by_name(old), by_name(out)
stale = sorted((n for n in have.keys() | want.keys() if have.get(n) != want.get(n)), key=qnum)
for n in stale:
    print(f"{n}:\n  have {have.get(n, '(no row)')}\n  want {want.get(n, '(no row)')}")
if not stale:
    print("the header differs")
sys.exit("QUERIES.md is stale: run python3 tools/gen_queries_md.py")
