"""Writes perfbench/entries.tsv from the output of `run.py --mode hashes`.

    python3 perfbench/run.py --mode hashes --dump DUMP > hashes.tsv
    python3 perfbench/tools/make_entries.py hashes.tsv > perfbench/entries.tsv

Each hashes.tsv row is: id, workload kind, hash of the entry's parquet dump,
hash of a live run. A row whose two hashes differ is refused: the expected
answer must be both what the oracle-checked dump holds and what the engine
gives here.

The operator family of an entry is the operator module its definition in
src/main/scala/graft/SparkEntry.scala (and the private helpers it calls)
names most often; entries naming none are `other`.
"""
import collections
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FAMILIES = {
    "textdedup": ["TextDedup"],
    "similarity": ["Similarity"],
    "sketches": ["Sketches"],
    "classify": ["NaiveBayes", "Dsir"],
    "multimodal": ["Multimodal"],
    "textanalysis": ["TextAnalysis", "Bpe"],
}


def families():
    src = open(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    end = src.index("def queries: Map")
    marks = [(m.start(), m.group(1))
             for m in re.finditer(r'^\s+"(q\d+[a-z0-9_]*)" -> \{', src[:end], re.M)]
    helpers = {m.group(1): m.start()
               for m in re.finditer(r"private(?:\[graft\])? (?:lazy )?(?:def|val) (\w+)", src)}
    starts = sorted(helpers.values())

    def helper_body(name):
        s = helpers[name]
        later = [x for x in starts if x > s]
        return src[s:later[0] if later else len(src)]

    out = {}
    for i, (pos, name) in enumerate(marks):
        body = src[pos:marks[i + 1][0] if i + 1 < len(marks) else end]
        text = body + "".join(helper_body(h) for h in helpers if re.search(r"\b%s\b" % h, body))
        counts = collections.Counter({
            fam: sum(len(re.findall(r"\b%s\." % mod, text)) for mod in mods)
            for fam, mods in FAMILIES.items()})
        fam, n = counts.most_common(1)[0]
        out[name] = fam if n > 0 else "other"
    return out


def main(path):
    fam = families()
    rows = [l.rstrip("\n").split("\t") for l in open(path) if l.startswith("q")]
    bad = [r[0] for r in rows if len(r) != 4 or r[2] != r[3]]
    if bad:
        sys.exit(f"dump and live hashes differ for: {' '.join(bad)}")
    print("# id\tworkload\tfamily\tsha256 of graft.Results.canonicalCsv")
    print("# built by perfbench/tools/make_entries.py; see perfbench/README.md")
    for id_, kind, dump, _ in rows:
        family = "sql" if kind == "ask" else fam.get(id_, "other")
        print(f"{id_}\t{kind}\t{family}\t{dump}")


if __name__ == "__main__":
    main(sys.argv[1])
