"""Driver-side twin of `python_analyzer.graph_from_parsed`'s Spark plan.

A parse of at most `graph.model.ROW_CAP` rows is collected in one Spark
job (scan, parse and the id projection, `collect_parse`) and resolved here
in pandas into the same nodes and edges the Spark plan produces, row for
row: the same binding picks and tie-breaks, re-export hops, candidate
ranking, DEFINES fan-out and `distinct`. Each step below names the Spark
step it repeats; tests/test_ingest_paths.py runs both on the same inputs.

Ids are not recomputed here: the collect projection evaluates
`graph.model.node_id_expr` for every id the graph can hold (each entity
row, each path's File node, each ref or import target as an external
node), so xxhash64 keeps its one Spark definition. Rows cross to the
driver and back as Arrow tables, integers as pandas' nullable Int64.

Every right-hand join key below is non-null (the parsers always set
names, paths and import aliases), so pandas' merge, which pairs nulls,
agrees with SQL equality; `src_start` is compared null-safe, as
`eqNullSafe` does.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..graph.model import node_id_expr
from .python_analyzer import _REEXPORT_HOPS, _REF_KINDS

_MAX_INT = 2**31 - 1
_SUFFIX_PY = re.compile(r"\.py$")
_LAST_MODULE = re.compile(r"[^/]+\.py$")


def collect_parse(parsed: DataFrame, cap: int) -> pd.DataFrame | None:
    """The parse rows plus the ids each can name, in one Arrow collect, or
    None when there are more than `cap` rows. `eid` is the row's entity
    node (read on entity rows), `fid` its path's File node and `xid` the
    external node named by its `target` (read where `target` is set)."""
    none = F.lit(None).cast("string")
    table = parsed.select(
        "*",
        node_id_expr(F.col("label")).alias("eid"),
        node_id_expr(F.lit("File"), F.element_at(F.split("path", "/"), -1), "path",
                     none, none).alias("fid"),
        node_id_expr(F.lit("Function"), "target", F.lit(""), none, none).alias("xid"),
    ).limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None
    return table.to_pandas(types_mapper={pa.int32(): pd.Int64Dtype(),
                                         pa.int64(): pd.Int64Dtype()}.get)


def to_frame(spark: SparkSession, pdf: pd.DataFrame, schema: StructType) -> DataFrame:
    """`pdf` as a DataFrame of driver data (a LocalRelation), through Arrow
    whatever the session's Arrow setting. An empty frame (a tree with
    nothing to parse) carries no column types, so it takes the schema's."""
    arrow_schema = to_arrow_schema(schema)
    table = (arrow_schema.empty_table() if pdf.empty else
             pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False))
    return spark.createDataFrame(table, schema)


def _no_ints(n: int) -> pd.api.extensions.ExtensionArray:
    return pd.array([pd.NA] * n, dtype="Int64")


def _dir(p: str) -> str:
    """`regexp_extract(p, '^(.*)/[^/]*$', 1)`: all before the last '/'."""
    return p.rsplit("/", 1)[0] if "/" in p else ""


def _suffix_hit(sfx: str, tpath: str) -> bool:
    """An anchored suffix (leading '/') names one path; an unanchored one
    matches at a path component boundary."""
    slashed = "/" + tpath
    return slashed == sfx if sfx.startswith("/") else slashed.endswith("/" + sfx)


def _facade(sfx) -> str | None:
    """The package `__init__.py` a module suffix would re-export through."""
    if not isinstance(sfx, str):
        return None
    return _SUFFIX_PY.sub("/__init__.py", sfx[1:] if sfx.startswith("/") else sfx)


def _recv_suffix(iorig, isuffix, alias) -> str | None:
    """A module receiver binding points at its module; a symbol binding
    used as a receiver points one level deeper, <module dir>/<alias>.py."""
    if pd.isna(iorig):
        return None if pd.isna(isuffix) else isuffix
    if pd.isna(isuffix):
        return None
    return _SUFFIX_PY.sub("", isuffix) + "/" + alias + ".py"


def _imp_hit(sfx, tpath: str) -> bool:
    return isinstance(sfx, str) and (
        _suffix_hit(sfx, tpath)
        or _suffix_hit(_SUFFIX_PY.sub("/__init__.py", sfx), tpath)
        or _suffix_hit(_LAST_MODULE.sub("__init__.py", sfx), tpath)
    )


def _pick_binding(df: pd.DataFrame, pos: pd.Series, iline: str, isuffix: str) -> pd.DataFrame:
    """Per `_rid`, the binding nearest at or above `pos` (else the first
    below it), ties by suffix, nulls last: `_pick_binding` in the Spark
    plan."""
    il = df[iline]
    above = (il.isna() | (il <= pos.fillna(_MAX_INT))).fillna(True).to_numpy(bool)
    key = np.where(above, -il.fillna(-1).to_numpy(np.int64),
                   il.fillna(_MAX_INT).to_numpy(np.int64))
    return (
        df.assign(_below=~above, _key=key)
        .sort_values(["_rid", "_below", "_key", isuffix], na_position="last", kind="stable")
        .drop_duplicates("_rid")
        .drop(columns=["_below", "_key"])
    )


def _ref_pos(refs: pd.DataFrame) -> pd.Series:
    """Where a reference sits: its call line, else its owner's start."""
    return refs["line"].fillna(refs["src_start"])


def _cands(defs: pd.DataFrame, is_ext: bool, dst_label) -> pd.DataFrame:
    """Resolution candidates: a target name and the node it resolves to."""
    return pd.DataFrame({"target": defs["name"], "target_id": defs["id"],
                         "tpath": defs["path"], "is_ext": is_ext, "dst_label": dst_label})


def _dirs(paths: pd.Series) -> np.ndarray:
    """`_dir` of each path, computed once per distinct path."""
    codes, uniq = pd.factorize(paths)
    return np.array([_dir(q) for q in uniq], dtype=object)[codes]


def _pick(refs: pd.DataFrame, cands: pd.DataFrame) -> pd.DataFrame:
    """The best candidate per (src, kind, target, line, text) of `refs`:
    import hit, same file, same package, global, then external, smallest
    `target_id` last. The name join pairs row positions only, and an
    import hit is tested once per distinct (suffix, path), so a name
    defined in many files costs a few numbers per pairing."""
    key = refs.groupby(["src", "kind", "target", "line", "text"], dropna=False,
                       sort=False).ngroup().to_numpy()
    pairs = pd.DataFrame({"r": np.arange(len(refs)), "target": refs["target"].to_numpy()}).merge(
        pd.DataFrame({"c": np.arange(len(cands)), "target": cands["target"].to_numpy()}),
        on="target")
    r, c = pairs["r"].to_numpy(), pairs["c"].to_numpy()
    tpath, rpath = cands["tpath"].to_numpy()[c], refs["rpath"].to_numpy()[r]
    sfx_code, sfxs = pd.factorize(refs["imp_suffix"])
    t_code, tpaths = pd.factorize(cands["tpath"])
    n_t = max(len(tpaths), 1)
    pair, inv = np.unique(sfx_code[r].astype(np.int64) * n_t + t_code[c], return_inverse=True)
    hit = np.array([s >= 0 and _imp_hit(sfxs[s], tpaths[t])
                    for s, t in zip(*np.divmod(pair, n_t))], dtype=bool)[inv]
    rank = np.select(
        [cands["is_ext"].to_numpy(bool)[c], hit, tpath == rpath,
         _dirs(cands["tpath"])[c] == _dirs(refs["rpath"])[r]],
        [4, -1, 0, 1], 2)
    tid = cands["target_id"].to_numpy(np.int64)[c]
    order = np.lexsort((tid, rank, key[r]))
    k = key[r][order]
    best = order[np.r_[True, k[1:] != k[:-1]]] if len(order) else order
    return refs.iloc[r[best]][["src", "kind", "line", "text"]].reset_index(drop=True).assign(
        target_id=tid[best], dst_label=cands["dst_label"].to_numpy()[c[best]])


def resolve(p: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """`collect_parse` rows → (nodes, edges) as pandas frames in the column
    order of NODES_SCHEMA and EDGES_SCHEMA."""
    ent = p[p["kind"] == "entity"]
    imports = (
        p.loc[p["kind"] == "import", ["path", "name", "target", "text", "line"]]
        .set_axis(["ipath", "alias", "iorig", "isuffix", "iline"], axis=1)
        .drop_duplicates()
    )

    # refs_sym: the import binding of each reference's target
    refs = p[p["kind"].isin(_REF_KINDS)].drop(columns=["eid", "fid", "xid"])
    refs = refs.assign(_rid=np.arange(len(refs)))
    sym = refs.merge(imports, how="left", left_on=["path", "target"],
                     right_on=["ipath", "alias"])
    sym = _pick_binding(sym, _ref_pos(sym), "iline", "isuffix")
    sym = sym.assign(eff_target=sym["iorig"].fillna(sym["target"]),
                     sym_suffix=sym["isuffix"]).drop(columns=list(imports.columns))

    # refs_recv: the import binding of a call's receiver
    recv = imports.add_suffix("2").assign(kind="call")
    rc = sym.merge(recv, how="left", left_on=["path", "parent_name", "kind"],
                   right_on=["ipath2", "alias2", "kind"])
    rc = _pick_binding(rc, _ref_pos(rc), "iline2", "isuffix2")
    recv_suffix = pd.Series(map(_recv_suffix, rc["iorig2"], rc["isuffix2"], rc["alias2"]),
                            index=rc.index, dtype=object)
    refs_eff = rc.assign(
        imp_suffix=rc["sym_suffix"].where(rc["sym_suffix"].notna(), recv_suffix),
    ).drop(columns=[*recv.columns.drop("kind"), "sym_suffix", "_rid"])

    # __init__ re-export hops over hop_base (first binding per facade name)
    hop = (
        imports.assign(_l=imports["iline"].fillna(_MAX_INT))
        .sort_values(["ipath", "alias", "_l", "isuffix"], na_position="last", kind="stable")
        .drop_duplicates(["ipath", "alias"])[["ipath", "alias", "iorig", "isuffix"]]
    )
    for _ in range(_REEXPORT_HOPS):
        facade = pd.Series(map(_facade, refs_eff["imp_suffix"]), index=refs_eff.index,
                           dtype=object)
        m = refs_eff.assign(_facade=facade).merge(
            hop, how="left", left_on=["_facade", "eff_target"], right_on=["ipath", "alias"])
        m.index = refs_eff.index
        refs_eff = refs_eff.assign(
            eff_target=m["iorig"].where(m["iorig"].notna(), refs_eff["eff_target"]),
            imp_suffix=m["isuffix"].where(m["isuffix"].notna(), refs_eff["imp_suffix"]),
        )

    # nodes: entities, one File node per path, unresolved Python names
    ent_nodes = pd.DataFrame({
        "id": ent["eid"], "labels": [[l, "Searchable"] for l in ent["label"]],
        "name": ent["name"], "path": ent["path"], "ext": None,
        "src_start": ent["src_start"], "src_end": ent["src_end"], "doc": ent["doc"],
    })
    files = p.drop_duplicates("path")
    file_nodes = pd.DataFrame({
        "id": files["fid"], "labels": [["File", "Searchable"]] * len(files),
        "name": [q.split("/")[-1] for q in files["path"]], "path": files["path"],
        "ext": ["." + q.split(".")[-1] for q in files["path"]],
        "src_start": _no_ints(len(files)), "src_end": _no_ints(len(files)), "doc": None,
    }, index=files.index)
    py_refs = refs_eff[refs_eff["kind"].isin(("call", "extends", "returns", "params"))
                       & refs_eff["path"].str.endswith(".py")]
    defs = set(ent["name"])
    ext_names = [n for n in dict.fromkeys(py_refs["eff_target"]) if n not in defs]
    named_refs = p[p["target"].notna()]
    xid = dict(zip(named_refs["target"], named_refs["xid"]))
    ext_nodes = pd.DataFrame({
        "id": pd.array([xid[n] for n in ext_names], dtype="Int64"),
        "labels": [["Function", "Searchable"]] * len(ext_names),
        "name": ext_names, "path": "", "ext": None,
        "src_start": _no_ints(len(ext_names)), "src_end": _no_ints(len(ext_names)),
        "doc": None,
    })
    nodes = pd.concat([ent_nodes, file_nodes, ext_nodes], ignore_index=True)
    nodes = nodes.assign(props=None, coverage=None).astype(
        {"id": "Int64", "src_start": "Int64", "src_end": "Int64"})

    ids = nodes[["id", "name", "path", "src_start"]].assign(
        label=pd.Series([ls[0] for ls in nodes["labels"]], index=nodes.index, dtype=object))
    ents = ids[ids["label"] != "File"]

    # DEFINES: parent entity (name, path, start) else the File node
    child = ent[["name", "path", "src_start", "label", "parent_name", "parent_start"]].merge(
        ids, on=["name", "path", "src_start", "label"])
    child = child.merge(
        ents[["id", "name", "path", "src_start"]].set_axis(
            ["parent_id", "parent_name", "path", "parent_start"], axis=1),
        how="left", on=["parent_name", "path", "parent_start"])
    child = child.merge(
        ids.loc[ids["label"] == "File", ["id", "path"]].set_axis(["file_id", "path"], axis=1),
        on="path")
    defines = pd.DataFrame({
        "src": child["parent_id"].where(child["parent_id"].notna(), child["file_id"]),
        "dst": child["id"], "type": "DEFINES", "props": None,
    })

    # symbol edges: references from their owning entity
    src = refs_eff.merge(ents[["id", "name", "path", "src_start"]],
                         on=["name", "path", "src_start"])
    src = pd.DataFrame({
        "src": src["id"], "kind": src["kind"], "rpath": src["path"],
        "target": src["eff_target"], "imp_suffix": src["imp_suffix"],
        "line": src["line"], "text": src["text"],
    })
    named = ents[ents["path"] != ""]
    externals = ents[(ents["path"] == "") & ~ents["name"].isin(set(named["name"]))]
    target_cands = pd.concat([_cands(named, False, None), _cands(externals, True, None)])

    is_py = src["rpath"].str.endswith(".py")
    cf = src[~is_py]
    types = named[named["label"].isin(("Class", "Interface", "Enum", "Struct"))]
    callables = named[named["label"].isin(("Function", "Method", "Constructor"))]
    picked = pd.concat([
        _pick(src[is_py], target_cands),
        _pick(cf[cf["kind"] == "call"], _cands(callables, False, None)),
        _pick(cf[cf["kind"] != "call"], _cands(types, False, types["label"])),
    ], ignore_index=True)
    kind, dst_label = picked["kind"], picked["dst_label"]
    edge_type = np.select(
        [kind == "call", kind == "extends", kind == "implements", kind == "cs_base",
         kind == "returns"],
        ["CALLS", "EXTENDS", "IMPLEMENTS",
         np.where(dst_label == "Interface", "IMPLEMENTS", "EXTENDS"), "RETURNS"],
        "PARAMETERS",
    )
    sym_edges = pd.DataFrame({
        "src": picked["src"], "dst": picked["target_id"], "type": edge_type,
        "line": picked["line"], "text": picked["text"],
    }).drop_duplicates()
    sym_edges["props"] = [
        {k: v for k, v in (("line", l if pd.isna(l) else str(l)), ("text", t))
         if not pd.isna(v)}
        if ty == "CALLS" else None
        for ty, l, t in zip(sym_edges["type"], sym_edges["line"], sym_edges["text"])
    ]
    edges = pd.concat([defines, sym_edges[["src", "dst", "type", "props"]]],
                      ignore_index=True)
    return nodes, edges.astype({"src": "Int64", "dst": "Int64"})
