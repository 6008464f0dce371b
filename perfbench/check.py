"""Output checks for each workload pass.

- genome_run: every contig is an exact substring of the reference or of its
  reverse complement; N50 (kbp) and the covered share of the reference are
  reported.
- curate_corpus: the curation flags written by `graft.Main curate -split`
  equal DuckDB's answer to the program's own oracle SQL for the
  `c6_curate_split` query (`SparkEntry.oracleSql`) on the generated corpus.

`check_passes` returns {"passes": {index: ok}, "errors": [...], "quality":
{...}}.
"""

import glob
import os

import duckdb

import gen


def _contigs(path):
    seqs, cur = [], []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith(">"):
                    if cur:
                        seqs.append("".join(cur))
                    cur = []
                elif line:
                    cur.append(line)
    if cur:
        seqs.append("".join(cur))
    return seqs


def _assembly(inputs, out):
    """(errors, n50_kbp, genome_frac) of one pass's Assembly directory."""
    with open(os.path.join(inputs, "reference.txt"), "rb") as f:
        ref = f.read()
    fwd, rev = ref.decode(), gen.revcomp(ref).decode()
    covered = bytearray(len(ref))
    contigs = _contigs(os.path.join(out, "Assembly"))
    if not contigs:
        return ["no contigs written"], 0.0, 0.0
    bad = []
    for c in contigs:
        at = fwd.find(c)
        if at < 0:
            at = rev.find(c)
            if at >= 0:
                at = len(rev) - at - len(c)
        if at >= 0:
            covered[at:at + len(c)] = b"\x01" * len(c)
        else:
            bad.append(_misplaced(c, fwd, rev))
    lens = sorted((len(c) for c in contigs), reverse=True)
    half, acc, n50 = sum(lens) / 2, 0, 0
    for n in lens:
        acc += n
        if acc >= half:
            n50 = n
            break
    frac = sum(covered) / len(ref)
    errs = [f"{len(bad)} of {len(contigs)} contigs are not substrings of the reference: "
            + "; ".join(bad)] if bad else []
    return errs, n50 / 1000.0, frac


def _misplaced(contig, fwd, rev):
    """Where a contig that is not a substring of the reference came from:
    its length and, if its first or last 40 bases place it on a strand, the
    offsets (within the contig) of its mismatches there."""
    n = len(contig)
    for strand, seq in (("+", fwd), ("-", rev)):
        for at in (seq.find(contig[:40]), seq.find(contig[-40:]) + 40 - n):
            if at >= 0 and at + n <= len(seq):
                diff = [i for i, (a, b) in enumerate(zip(contig, seq[at:at + n]))
                        if a != b]
                return (f"{n} bp contig at {strand}{at} differs at {len(diff)} "
                        f"offsets, first {diff[:5]}")
    return f"{n} bp contig whose first and last 40 bases are not in the reference"


def _rows(con, sql):
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _oracle(con, inputs, oracle_sql):
    """(columns, rows) of the oracle SQL on the generated corpus."""
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"read_parquet('{inputs}/documents.parquet/*.parquet')")
    cur = con.execute(oracle_sql)
    cols = [d[0] for d in cur.description]
    return cols, sorted(tuple(r) for r in cur.fetchall())


def _curation(con, out, oracle):
    cols, want = oracle
    got = _rows(con, f"SELECT {', '.join(cols)} FROM "
                     f"read_parquet('{out}/curation_flags/*.parquet')")
    if got == want:
        return []
    diff = len(set(got) ^ set(want))
    return [f"curation flags differ from the c6_curate_split oracle "
            f"({len(got)} vs {len(want)} rows, {diff} rows differ)"]


def check_passes(workload, inputs, res):
    passes, errors, quality = {}, [], {}
    con = duckdb.connect()
    n50s, fracs = [], []
    oracle = None
    for p in res["passes"]:
        if p["error"]:
            passes[p["index"]] = False
            continue
        if workload == "genome_run":
            errs, n50, frac = _assembly(inputs, p["out"])
            n50s.append(n50)
            fracs.append(frac)
        else:
            oracle = oracle or _oracle(con, inputs, res["oracle_sql"])
            errs = _curation(con, p["out"], oracle)
        passes[p["index"]] = not errs
        errors += [f"pass {p['index']}: {e}" for e in errs]
    if n50s:
        quality = {"n50_kbp": min(n50s), "genome_frac": min(fracs)}
    return {"passes": passes, "errors": errors, "quality": quality}
