"""Correctness checks, run after the timed passes.

* ``check_final_output`` diffs a word-count op's ``final_output/`` tree
  against the generator's expected per-file counts, including the
  reference's byte-order of lines within each file.
* ``check_registry`` runs each op's DuckDB oracle SQL over the same
  parquet tables and compares it with the op's parquet output, the way
  ``tools/check.py`` does: columns sorted by name, floats rounded to nine
  places, rows sorted.
"""
import math
import os


def parse_final_output(path):
    """``(word,count)`` lines -> {word: count}; raises on a malformed or
    out-of-order line."""
    counts, prev = {}, None
    with open(path, encoding="utf-8", newline="\n") as fh:
        for line in fh.read().split("\n"):
            if not line:
                continue
            if not (line.startswith("(") and line.endswith(")")) or "," not in line:
                raise ValueError(f"malformed line {line!r}")
            cut = line.rindex(",")
            word, n = line[1:cut], int(line[cut + 1:-1])
            key = word.encode("utf-8")
            if prev is not None and key <= prev:
                raise ValueError(f"line {line!r} out of byte order")
            prev = key
            counts[word] = n
    return counts


def check_final_output(out_dir, expected):
    """Return a list of problems (empty when the tree matches)."""
    final = os.path.join(out_dir, "final_output")
    if not os.path.isdir(final):
        return [f"missing {final}"]
    got_files = set(os.listdir(final))
    problems = [f"unexpected file {f}" for f in sorted(got_files - set(expected))]
    problems += [f"missing file {f}" for f in sorted(set(expected) - got_files)]
    for name in sorted(got_files & set(expected)):
        try:
            got = parse_final_output(os.path.join(final, name))
        except ValueError as e:
            problems.append(f"{name}: {e}")
            continue
        if got != expected[name]:
            diff = [w for w in set(got) | set(expected[name]) if got.get(w) != expected[name].get(w)]
            w = sorted(diff)[0]
            problems.append(f"{name}: {len(diff)} words differ, first {w!r}: "
                            f"got {got.get(w)} expected {expected[name].get(w)}")
    return problems


TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda r: tuple(str(x) for x in r))


def check_registry(data_dir, check_dir, oracle, ops):
    """{op: problem or ""} for every op that has an oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    result = {}
    for op in ops:
        if op not in oracle:
            continue
        pdir = os.path.join(check_dir, op)
        if not os.path.isdir(pdir):
            result[op] = "missing spark output"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{pdir}/*.parquet'")
            gcols, grows = canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.sql(oracle[op])
            ecols, erows = canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as e:  # an oracle or read error is a failed check
            result[op] = f"error {e}"
            continue
        if gcols != ecols:
            result[op] = f"schema spark={gcols} oracle={ecols}"
        elif len(grows) != len(erows):
            result[op] = f"rows {len(grows)} vs {len(erows)}"
        else:
            bad = [(a, b) for a, b in zip(grows, erows) if a != b]
            result[op] = (f"{len(bad)}/{len(grows)} rows differ; first spark={bad[0][0]} "
                          f"oracle={bad[0][1]}") if bad else ""
    return result
