"""Pure-Python references shared by several test modules."""

from triplestore_spark.sources.ntriples import NTParseError, parse_nt_arrow


def union_find_components(pairs):
    """{node: min node of its component} over undirected `pairs`
    (self-loops ignored)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comp.values() for x in members}


def arrow_parse_rows(lines):
    """Sorted rows of parse_nt_arrow over `lines` (the executor batch
    parser, run without Spark); raises NTParseError on a reject, like
    the FAILFAST decode."""
    import pyarrow as pa

    batches, rejects = parse_nt_arrow(pa.array(lines, type=pa.string()))
    if rejects:
        raise NTParseError(rejects[0][2])
    return sorted(
        tuple(r.values()) for b in batches for r in b.to_pylist()
    )
