"""DuckDB compare of dumped results, row by row after sorting columns by
name (the same rules as tools/check_oracle.py): each entry's SQL runs over
the generated parquet tables and must give the dumped rows, in order, with
the same arrow types."""
import math
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _compare(got, exp):
    got = got.select(sorted(got.column_names))
    exp = exp.select(sorted(exp.column_names))
    if got.column_names != exp.column_names:
        return f"columns {got.column_names} vs {exp.column_names}"
    if got.num_rows != exp.num_rows:
        return f"{got.num_rows} rows vs {exp.num_rows}"
    for c in got.column_names:
        tg, te = got.schema.field(c).type, exp.schema.field(c).type
        if str(tg) != str(te):
            return f"type of {c}: {tg} vs {te}"
    for i, (g, e) in enumerate(zip(got.to_pylist(), exp.to_pylist())):
        for c in got.column_names:
            if _norm(g[c]) != _norm(e[c]):
                return f"row {i} column {c}: {g[c]!r} vs {e[c]!r}"
    return None


def check(data_dir, entries):
    """Returns [(name, None | mismatch message)] for every entry."""
    if not entries:
        return []
    con = duckdb.connect(config={"threads": 4})
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = []
    for e in entries:
        if not Path(e["dump"]).exists():
            out.append((e["name"], "no result dumped"))
            continue
        try:
            exp = con.execute(e["sql"]).arrow()
            out.append((e["name"], _compare(pq.read_table(e["dump"]), exp)))
        except Exception as ex:  # an oracle that cannot run is a failed check
            out.append((e["name"], f"{type(ex).__name__}: {ex}"))
    con.close()
    return out
