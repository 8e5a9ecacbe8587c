#!/usr/bin/env python3
"""Generate the per-module query catalog for README.md (driver-side tooling).

Scans every main-source module for registered queries (`Query("qNNN_key", ...`
entries in its `queries` registry), pairs each with the first sentence of the
Scaladoc block that precedes the implementing def, and prints a markdown
section with one table per module: | query | one-line purpose |.

Heuristic for the one-liner: take the Scaladoc of the def whose body hosts the
query (located via the `// ---- qNNN` banner or the def name), strip markup,
and cut at the first ` — ` / `: ` / sentence end, capped at ~160 chars.
"""
import os, re, sys, glob

ROOT = os.path.join(os.path.dirname(__file__), "..", "src", "main", "scala", "graft")

KEY_RE = re.compile(r'Query\("(q\d+_[a-z0-9_]+)"')


def first_sentence(doc: str) -> str:
    # strip scaladoc markup
    t = re.sub(r"/\*\*|\*/", " ", doc)
    t = re.sub(r"^\s*\*\s?", "", t, flags=re.M)
    t = re.sub(r"\[\[([^\]]+)\]\]", r"\1", t)
    t = re.sub(r"`", "", t)
    t = " ".join(t.split())
    # cut at the em-dash or sentence end, whichever comes first (>40 chars in)
    for cut in [" — ", ". ", "; "]:
        i = t.find(cut, 40)
        if i != -1:
            t = t[:i]
            break
    if len(t) > 170:
        t = t[:167].rsplit(" ", 1)[0] + "…"
    return t.strip().rstrip(".")


def scan(path: str):
    src = open(path).read()
    # keys registered in this file's `queries` registry
    keys = KEY_RE.findall(src)
    if not keys:
        return None
    # index scaladoc blocks by the qNNN banner that follows them
    banners = {}
    for m in re.finditer(r"-{4,}\s*(q\d+)\b", src):
        banners[m.group(1)] = m.start()
    docs = [(m.start(), m.end(), m.group(0))
            for m in re.finditer(r"/\*\*.*?\*/", src, re.S)]

    def doc_for(qn):
        pos = banners.get(qn)
        if pos is None:
            # fall back: first def matching qNNN[A-Z]
            dm = re.search(rf"def {qn}[A-Z]\w*", src)
            if not dm:
                return ""
            pos = dm.start()
            cands = [d for d in docs if d[1] <= pos]
        else:
            cands = [d for d in docs if d[0] > pos]
            return first_sentence(cands[0][2]) if cands else ""
        return first_sentence(cands[-1][2]) if cands else ""

    rows = []
    for k in keys:
        qn = k.split("_")[0]
        rows.append((int(qn[1:]), k, doc_for(qn)))
    return rows


def render():
    import io
    buf = io.StringIO()
    out = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "**", "*.scala"), recursive=True)):
        rows = scan(path)
        if rows:
            mod = os.path.relpath(path, ROOT).replace(".scala", "")
            out[mod] = rows
    # print per-module tables, modules ordered by their smallest query number
    for mod in sorted(out, key=lambda m: min(r[0] for r in out[m])):
        rows = sorted(out[mod])
        n = "query" if len(rows) == 1 else "queries"
        buf.write(f"\n### `{mod}` ({len(rows)} {n})\n\n")
        buf.write("| query | purpose |\n|---|---|\n")
        for _, k, doc in rows:
            buf.write(f"| `{k}` | {doc or '(see Scaladoc)'} |\n")
    total = sum(len(v) for v in out.values())
    print(f"total={total} modules={len(out)}", file=sys.stderr)
    return buf.getvalue()


HAND_FIXES = {
 "q43_salted_sum": "Two-stage salted skew-spread aggregation, oracle-certified equal to the plain groupBy sum",
 "q44_tfidf_terms": "TF-IDF top-term ranking per language over the tokenized corpus",
 "q46_split_census": "Consistent hash-based train/val/test splitting: per-split census proving determinism and disjointness",
 "q66_ivf_pq": "Composed IVF+PQ ANN: cell probe → ADC code-table rank → exact re-rank of the shortlist only",
 "q153_ivf_append": "Incremental IVF/PQ append: new batch unioned into the frozen index via broadcast assigns, no rebuild",
 "q275_vector_store_ledger": "End-to-end vector-store build ledger: dedup → norm gate → IVF → PQ → probe, per-stage row counts in one oracle",
 "q339_cell_append": "Incremental semantic-cell maintenance: frozen batch-1 Lloyd centroids + O(|batch|) broadcast assignment delta",
}


def main():
    body = render()
    for k, v in HAND_FIXES.items():
        body = body.replace(f"| `{k}` | (see Scaladoc) |", f"| `{k}` | {v} |")
    if "--update" in sys.argv:
        readme_path = os.path.join(os.path.dirname(__file__), "..", "README.md")
        t = open(readme_path).read()
        head = "## Query catalog (per module)"
        tail = "## Correctness & parity conventions"
        i, j = t.index(head), t.index(tail)
        # intro = everything up to the first "### `" heading, wherever it sits
        # (must NOT require a leading newline: a past glue bug left "### `"
        # mid-line, which made the old "\n### `" search keep stale copies)
        sec = t[i:j]
        k = sec.index("### `")
        intro = sec[:k].rstrip() + "\n\n"
        t = t[:i] + intro + body.lstrip("\n") + "\n" + t[j:]
        open(readme_path, "w").write(t)
        print("README.md updated", file=sys.stderr)
    else:
        sys.stdout.write(body)


if __name__ == "__main__":
    main()


