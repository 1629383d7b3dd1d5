"""Result fingerprints in the canonical form of tools/check_oracle.py:
columns sorted by name, every value as its Python repr (NaN as "NaN"),
rows in the order the query produced them."""
import hashlib
import math


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                rr.append("NaN")
            else:
                rr.append(repr(v))
        out.append(tuple(rr))
    return out


def fingerprint(rows, cols):
    """{"rows": n, "columns": sorted names, "sha256": digest}."""
    h = hashlib.sha256()
    for r in canon(rows, cols):
        h.update("\x1f".join(r).encode("utf-8"))
        h.update(b"\x1e")
    return {"rows": len(rows), "columns": sorted(cols), "sha256": h.hexdigest()}


def compare(got, want):
    """None when the fingerprints agree, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return "columns %s != %s" % (got["columns"], want["columns"])
    if got["rows"] != want["rows"]:
        return "rows %d != %d" % (got["rows"], want["rows"])
    if got["sha256"] != want["sha256"]:
        return "values differ (sha256 %s != %s)" % (got["sha256"][:12], want["sha256"][:12])
    return None
