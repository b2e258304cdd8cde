"""Resource compiler: pipeline steps over a source DataFrame -> GraphBatch.

This replaces the reference's per-row actor tree (graflo/architecture/pipeline/
runtime/) with one lazy DataFrame DAG per resource:

    - ``descend``      -> ``posexplode`` adding a position column per list
                          level (the LocationIndex, graph_types/location.py,
                          becomes (path, position-columns))
    - ``transform``    -> ``withColumns`` over native Column expressions
    - ``vertex``       -> projection expressions + identity minting + filters
    - ``edge``         -> joins keyed on document id + shared ancestor
                          position columns

Edge-casting semantics re-derived from the reference renderer
(actor/edge_render.py:89-228,335-353 — studied, not copied):

    * heterogeneous endpoints extracted from the *same* frame row pair 1:1
      (a pure projection — zero shuffle);
    * heterogeneous endpoints on *different* nesting branches take the
      cartesian product within their shared ancestor — a join on
      ``__doc_id`` + the position columns of the common path prefix
      (the reference's grouped-branch PRODUCT);
    * homogeneous (source == target) endpoints form a star from the first
      location (reference `_iter_emitter_receiver_group_pairs`: emitter =
      lexicographically-minimal location, receivers = all others) — a
      self-join on ``__doc_id`` with the emitter side pinned to position 0.

Scale notes: same-row edges never shuffle; cross-branch edges shuffle on
``__doc_id`` which is uniformly distributed (no skew); vertex dedup is a
hash aggregate on identity columns that AQE coalesces. The base frame is
materialized only when ``monotonically_increasing_id`` must stay stable
across DAG branches: a local checkpoint owned by the returned GraphBatch,
so every branch reads the same ids and no later compile can splice into
or retire them (the rule: ``ops.util.Checkpointer``). Pass
``ResourceConfig.doc_key`` to get a deterministic, checkpoint-free
document id at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from graflo_spark import identity as ident
from graflo_spark.container import GraphBatch
from graflo_spark.manifest import CoreSchema, Edge, EdgeId, IdentityMode, Vertex
from graflo_spark.ops.util import Checkpointer
from graflo_spark.steps import (
    DescendStep,
    DynamicEdgeStep,
    EdgeLink,
    EdgeStep,
    ResourceConfig,
    Step,
    TransformStep,
    VertexRouterStep,
    VertexStep,
)

DOC_ID = "__doc_id"
VPREF = "__v_"


@dataclass
class Frame:
    """One nesting level: a DataFrame carrying observation columns, the
    document id, and one position column per ancestor list-descend."""

    path: tuple[str, ...]
    df: DataFrame
    pos_cols: tuple[str, ...]  # aligned with the list-descend levels in path
    # (key, pos_col-or-None) per path element, for shared-prefix computation
    pos_path: tuple[tuple[str, str | None], ...] = ()


@dataclass
class VertexExtract:
    """A vertex extraction site: exprs to materialize vertex fields from the
    frame, plus the frame itself (kept for weight/relation lookups)."""

    vertex: Vertex
    role: str | None
    frame: Frame
    field_exprs: dict[str, Column]  # vertex field -> Column over frame.df
    filter_cond: Column | None
    lookup_only: bool = False
    order: int = 0  # extraction order (stable tiebreak)

    @property
    def name(self) -> str:
        return self.vertex.name

    def match_exprs(self, match_fields: list[str]) -> dict[str, Column] | None:
        out = {}
        for f in match_fields:
            if f not in self.field_exprs:
                return None
            out[f] = self.field_exprs[f]
        return out


@dataclass
class _EdgeJob:
    link: EdgeLink
    dynamic: bool = False


class ResourceCompiler:
    """Compile one resource's pipeline over a source DataFrame."""

    def __init__(self, schema: CoreSchema, resource: ResourceConfig):
        self.schema = schema
        self.resource = resource
        self.extracts: list[VertexExtract] = []
        self.edge_jobs: list[_EdgeJob] = []
        self._explicit_pairs: set[tuple[str, str]] = set()
        self._n = 0

    # ------------------------------------------------------------------ api
    def _doc_id_matters(self) -> bool:
        """True when the non-deterministic doc id feeds results: nested
        descents (cross-frame joins key on it) or minted identities (it seeds
        the digest). Flat natural-identity resources never observe it, so
        their base needn't be checkpointed — one less materialization per
        resource."""

        def walk(steps) -> bool:
            for s in steps:
                if isinstance(s, DescendStep):
                    return True
                if isinstance(s, VertexStep):
                    v = self.schema.vertex(s.name)
                    if v.identity_mode in (IdentityMode.ASSIGNED, IdentityMode.BLANK):
                        return True
                if isinstance(s, VertexRouterStep):
                    # router extracts live on per-type filtered sub-frames;
                    # edges across roles join those frames on the doc id
                    return True
            return False

        return walk(self.resource.steps)

    def compile(self, df: DataFrame,
                checkpointer: Checkpointer | None = None) -> GraphBatch:
        """``checkpointer``: the owner of the base checkpoint, for callers
        that free it at a known point (streaming ingest frees it after
        each micro-batch's write). By default the returned batch's frames
        own it and Spark frees it with them."""
        self.extracts, self.edge_jobs = [], []
        self._dynamic_steps: list[DynamicEdgeStep] = []
        self._explicit_pairs = set()

        base = self._prepare_base(df)
        if self.resource.doc_key is None and self._doc_id_matters():
            # monotonically_increasing_id must not be recomputed differently
            # across the DAG branches that re-read the base. A checkpoint,
            # not a persist: a CacheManager entry is keyed by plan, so a
            # later compile could splice into it or retire it, and a
            # retired entry recomputes each branch's ids separately.
            base = (base.localCheckpoint(eager=False) if checkpointer is None
                    else checkpointer(base, "base"))
        root = Frame(path=(), df=base, pos_cols=(), pos_path=())
        self._walk(root, self.resource.steps)
        # dynamic links enumerate AFTER the whole walk: their role cross
        # product must see every extract, including ones from steps that
        # appear after the DynamicEdgeStep (review finding — eager
        # enumeration silently dropped later branches' edges; only
        # RENDERING was deferred before)
        for dstep in self._dynamic_steps:
            for link in self._dynamic_links(dstep):
                self.edge_jobs.append(_EdgeJob(link, dynamic=True))
                self._explicit_pairs.add((link.source, link.target))

        edges: dict[EdgeId, list[DataFrame]] = {}
        for job in self.edge_jobs:
            for eid, edf in self._render_link(job.link, dynamic=job.dynamic):
                edges.setdefault(eid, []).append(edf)
        for link in self._inferred_links():
            for eid, edf in self._render_link(link, dynamic=False):
                edges.setdefault(eid, []).append(edf)

        batch = GraphBatch(
            vertices=self._build_vertices(),
            edges={eid: self._union_dedup(dfs) for eid, dfs in edges.items()},
        )
        return batch

    # ------------------------------------------------------------- base/walk
    def _prepare_base(self, df: DataFrame) -> DataFrame:
        if self.resource.strip_trivial:
            string_cols = [
                f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
            ]
            if string_cols:
                df = df.na.replace("", None, subset=string_cols)
        if self.resource.doc_key:
            doc_id = F.xxhash64(*[F.col(c) for c in self.resource.doc_key])
        elif not self._doc_id_matters():
            # flat natural-identity resources never observe the doc id (edges
            # are same-row projections, merge ties break on content instead) —
            # and adding monotonically_increasing_id here would BLOCK
            # predicate pushdown to the scan (nondeterministic projection)
            return df
        else:
            doc_id = F.monotonically_increasing_id()
        return df.withColumn(DOC_ID, doc_id)

    def _walk(self, frame: Frame, steps: list[Step]) -> None:
        for step in steps:
            if isinstance(step, DescendStep):
                for child in self._descend(frame, step):
                    self._walk(child, step.steps)
            elif isinstance(step, TransformStep):
                frame = Frame(
                    path=frame.path,
                    df=step.transform.apply(frame.df),
                    pos_cols=frame.pos_cols,
                    pos_path=frame.pos_path,
                )
            elif isinstance(step, VertexStep):
                self._extract_vertex(frame, step)
            elif isinstance(step, VertexRouterStep):
                self._route_vertices(frame, step)
            elif isinstance(step, (EdgeStep, DynamicEdgeStep)):
                # edges render after extraction completes (reference actor
                # priority: edge=90 runs last, descend.py:208-216)
                if isinstance(step, EdgeStep):
                    for link in step.links:
                        self.edge_jobs.append(_EdgeJob(link))
                        self._explicit_pairs.add((link.source, link.target))
                else:
                    self._dynamic_steps.append(step)
            else:
                raise TypeError(f"unknown step {step!r}")

    def _descend(self, frame: Frame, step: DescendStep) -> list[Frame]:
        if step.any_key:
            # every descendable (array/struct/map) key becomes a branch; a
            # scalar value is a one-item sub-doc in the reference
            # (descend.py:141-148) from which no vertex projection can ever
            # succeed, so scalar columns are skipped rather than erroring
            keys = [
                f.name
                for f in frame.df.schema.fields
                if not f.name.startswith("__")
                and isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))
            ]
            frames = []
            for k in keys:
                frames.extend(self._descend(frame, DescendStep(key=k)))
            return frames

        key = step.key
        dtype = frame.df.schema[key].dataType
        depth = len(frame.pos_cols)
        pos = f"__pos{depth}"

        def shelter(df):
            """Move minted ``__item``/``__loc_key`` columns from an
            ENCLOSING descend to depth-suffixed names so this descend can
            own the canonical names — map-in-map (and scalar
            array-in-array) previously re-aliased the same name and left
            duplicate columns behind (review finding). The innermost
            descend keeps the canonical name; ancestors stay addressable
            at ``__item<N>``/``__loc_key<N>``."""
            for c in ("__item", "__loc_key"):
                if c != key and c in df.columns:
                    df = df.withColumnRenamed(c, f"{c}{len(frame.path)}")
            return df

        if isinstance(dtype, T.ArrayType):
            src = shelter(frame.df)
            exploded = src.select(
                *[c for c in src.columns if c != key],
                F.posexplode(key).alias(pos, "__item"),
            )
            if isinstance(dtype.elementType, T.StructType):
                item_fields = [f.name for f in dtype.elementType.fields]
                keep = [c for c in exploded.columns if c not in item_fields and c != "__item"]
                child_df = exploded.select(
                    *keep, *[F.col(f"__item.{f}").alias(f) for f in item_fields]
                )
            else:
                child_df = exploded  # scalar items stay as __item
            return [
                Frame(
                    path=frame.path + (key,),
                    df=child_df,
                    pos_cols=frame.pos_cols + (pos,),
                    pos_path=frame.pos_path + ((key, pos),),
                )
            ]
        if isinstance(dtype, T.StructType):
            item_fields = [f.name for f in dtype.fields]
            keep = [c for c in frame.df.columns if c not in item_fields and c != key]
            child_df = frame.df.select(
                *keep, *[F.col(f"{key}.{f}").alias(f) for f in item_fields]
            )
            return [
                Frame(
                    path=frame.path + (key,),
                    df=child_df,
                    pos_cols=frame.pos_cols,
                    pos_path=frame.pos_path + ((key, None),),
                )
            ]
        if isinstance(dtype, T.MapType):
            src = shelter(frame.df)
            exploded = src.select(
                *[c for c in src.columns if c != key],
                F.explode(key).alias("__loc_key", "__item"),
            )
            return [
                Frame(
                    path=frame.path + (key,),
                    df=exploded,
                    pos_cols=frame.pos_cols,
                    pos_path=frame.pos_path + ((key, None),),
                )
            ]
        raise TypeError(f"cannot descend into {key!r} of type {dtype}")

    # ------------------------------------------------------------- vertices
    def _extract_vertex(self, frame: Frame, step: VertexStep) -> None:
        v = self.schema.vertex(step.name)
        df_cols = set(frame.df.columns)
        exprs: dict[str, Column] = {}
        for f in v.fields:
            src = step.mapping.get(f.name)
            if src is None and step.extraction_scope == "full":
                if step.keep_fields is not None and f.name not in step.keep_fields:
                    continue
                src = f.name if f.name in df_cols else None
            if src is None:
                continue
            col = F.col(src)
            st = f.spark_type()
            if st is not None:
                col = col.cast(st)
            exprs[f.name] = col

        def resolver(name):
            try:
                return exprs[name]
            except KeyError:
                raise ValueError(
                    f"vertex {v.name!r}: filter references field {name!r} "
                    f"not extracted at this site (available: "
                    f"{sorted(exprs)})") from None

        # a funnel BRANCH whose field is absent at this site must fall
        # through to the next branch (ordered-fallback semantics), not
        # crash compile (review finding): absent -> null -> branch loses
        funnel_resolver = (
            lambda name: exprs.get(name, F.lit(None).cast("string")))
        if v.identity_mode == IdentityMode.HASH:
            exprs[Vertex.HASH_KEY] = ident.funnel_expr(
                v.identity_funnel, funnel_resolver)
        elif v.identity_mode in (IdentityMode.ASSIGNED, IdentityMode.BLANK):
            # deterministic mint: digest over all extracted fields + site
            seed = dict(exprs)
            seed["__site"] = F.concat_ws(
                "/",
                F.lit(self.resource.name),
                F.lit("/".join(frame.path)),
                F.col(DOC_ID).cast("string"),
                *[F.col(p).cast("string") for p in frame.pos_cols],
            )
            exprs[Vertex.HASH_KEY] = F.sha2(
                F.concat_ws("|", *[c.cast("string") for c in seed.values()]), 256
            )

        cond = v.filters.to_column(resolver) if v.filters is not None else None
        self._n += 1
        self.extracts.append(
            VertexExtract(
                vertex=v,
                role=step.role,
                frame=frame,
                field_exprs=exprs,
                filter_cond=cond,
                lookup_only=step.lookup_only,
                order=self._n,
            )
        )

    def _route_vertices(self, frame: Frame, step: VertexRouterStep) -> None:
        """Router = one filtered extraction per target type (the reference's
        per-row dispatch, actor/vertex_router.py, becomes partition-by-type)."""
        for type_value, vertex_name in step.type_map.items():
            sub = Frame(
                path=frame.path,
                df=frame.df.filter(F.col(step.type_field) == F.lit(type_value)),
                pos_cols=frame.pos_cols,
                pos_path=frame.pos_path,
            )
            mapping = step.vertex_from_map.get(
                type_value, step.vertex_from_map.get(vertex_name, {})
            )
            self._extract_vertex(
                sub,
                VertexStep(name=vertex_name, mapping=mapping, role=step.role),
            )

    def _dynamic_links(self, step: DynamicEdgeStep) -> list[EdgeLink]:
        links = []
        src_types = {e.name for e in self.extracts if e.role == step.source_role}
        tgt_types = {e.name for e in self.extracts if e.role == step.target_role}
        for s in sorted(src_types):
            for t in sorted(tgt_types):
                if step.strict_edge_types and not self.schema.edges_between(s, t):
                    continue
                links.append(
                    EdgeLink(
                        source=s,
                        target=t,
                        source_role=step.source_role,
                        target_role=step.target_role,
                        relation_field=step.relation_field,
                        relation_map=step.relation_map,
                        weights=step.weights,
                    )
                )
        return links

    def _inferred_links(self) -> list[EdgeLink]:
        """Auto-render declared edges whose endpoints were both extracted
        (reference runtime/assemble.py:140-213 + allow/deny selectors)."""
        if not self.resource.infer_edges:
            return []
        present = {e.name for e in self.extracts}
        links = []
        for e in self.schema.edges:
            pair = (e.source, e.target)
            if pair in self._explicit_pairs:
                continue
            if self.resource.infer_edge_only is not None and pair not in [
                tuple(p) for p in self.resource.infer_edge_only
            ]:
                continue
            if pair in [tuple(p) for p in self.resource.infer_edge_except]:
                continue
            if e.source in present and e.target in present:
                links.append(
                    EdgeLink(
                        source=e.source,
                        target=e.target,
                        relation=e.relation,
                        weights=e.property_names,
                    )
                )
        return links

    # ---------------------------------------------------------------- edges
    def _select_extracts(
        self, name: str, role: str | None, match_key: str | None, exclude_key: str | None
    ) -> list[VertexExtract]:
        """Endpoint site selection (reference role slots,
        steps/models.py:347-377 + edge_render location filters): an endpoint
        with an explicit role binds only to that role's extracts; an unroled
        endpoint binds to the default (unroled) slot, falling back to all
        extracts of the type only when no unroled extract exists."""
        def pick(want_role: str | None) -> list[VertexExtract]:
            out = []
            for e in self.extracts:
                if e.name != name:
                    continue
                if want_role is not ... and e.role != want_role:
                    continue
                if match_key is not None and match_key not in e.frame.path:
                    continue
                if exclude_key is not None and exclude_key in e.frame.path:
                    continue
                out.append(e)
            return out

        out = pick(role)
        if not out and role is None:
            out = pick(...)  # no default slot: any role qualifies
        return sorted(out, key=lambda e: (len(e.frame.path), e.frame.path, e.order))

    def _match_fields(self, vertex: Vertex, secondary: str | None) -> list[str]:
        if secondary is not None:
            return list(vertex.secondary_identities[secondary])
        return vertex.identity_fields

    def _render_link(
        self, link: EdgeLink, dynamic: bool
    ) -> list[tuple[EdgeId, DataFrame]]:
        src_v = self.schema.vertex(link.source)
        tgt_v = self.schema.vertex(link.target)
        src_fields = self._match_fields(src_v, link.match_source)
        tgt_fields = self._match_fields(tgt_v, link.match_target)
        srcs = self._select_extracts(
            link.source, link.source_role, link.match_source_key, link.exclude_source_key
        )
        tgts = self._select_extracts(
            link.target, link.target_role, link.match_target_key, link.exclude_target_key
        )
        if not srcs or not tgts:
            return []

        weights = list(link.weights)
        if not weights:
            for e in self.schema.edges_between(link.source, link.target):
                if e.relation == link.relation or e.relation is None:
                    weights = e.property_names
                    break

        homogeneous = (
            link.source == link.target
            and link.source_role == link.target_role
            and link.match_source_key is None
            and link.match_target_key is None
        )
        pairs: list[tuple[VertexExtract, VertexExtract, str]] = []
        if homogeneous and link.casting == "combinations":
            # unordered item pairs within the document (reference
            # COMBINATIONS casting for self-edges, edge_render.py:89-99)
            for e in srcs:
                pairs.append((e, e, "combo"))
        elif homogeneous:
            # star from the minimal location: emitter = first extract (and
            # position 0 within it); receivers = everything else
            emitter = srcs[0]
            for r in srcs:
                pairs.append((emitter, r, "star"))
        else:
            for se in srcs:
                for te in tgts:
                    pairs.append((se, te, "plain"))

        out = []
        eid = EdgeId(link.source, link.target, link.relation)
        for se, te, mode in pairs:
            edf = self._render_pair(se, te, src_fields, tgt_fields, weights, link, mode)
            if edf is not None:
                out.append((eid, edf))
        return out

    def _render_pair(
        self,
        se: VertexExtract,
        te: VertexExtract,
        src_fields: list[str],
        tgt_fields: list[str],
        weights: list[str],
        link: EdgeLink,
        mode: str = "plain",
    ) -> DataFrame | None:
        src_exprs = se.match_exprs(src_fields)
        tgt_exprs = te.match_exprs(tgt_fields)
        if src_exprs is None or tgt_exprs is None:
            return None  # endpoint cannot be matched from this site

        star = mode == "star"
        combo = mode == "combo"
        same_frame = se.frame is te.frame and mode == "plain"
        if combo and not se.frame.pos_cols:
            return None  # single location per doc: nothing to pair

        def weight_expr(w: str, side_prefix: dict[str, str]) -> Column | None:
            # precedence per reference edge_render.py:357-373 — target vertex
            # doc wins over source vertex doc wins over frame observation
            if w in te.field_exprs:
                return te.field_exprs[w] if same_frame else F.col(f"__tw_{w}")
            if w in se.field_exprs:
                return se.field_exprs[w] if same_frame else F.col(f"__sw_{w}")
            if w in te.frame.df.columns:
                return F.col(w) if same_frame else F.col(f"__tw_{w}")
            if w in se.frame.df.columns:
                return F.col(w) if same_frame else F.col(f"__sw_{w}")
            return None

        relation_col = self._relation_expr(se, te, link, same_frame)

        if same_frame:
            df = se.frame.df
            cond = None
            for c in (se.filter_cond, te.filter_cond):
                if c is not None:
                    cond = c if cond is None else (cond & c)
            if cond is not None:
                df = df.filter(cond)
            sel = [src_exprs[f].alias(f"_src_{f}") for f in src_fields]
            sel += [tgt_exprs[f].alias(f"_dst_{f}") for f in tgt_fields]
            for w in weights:
                we = weight_expr(w, {})
                if we is not None:
                    sel.append(we.alias(w))
            if relation_col is not None:
                sel.append(relation_col.alias("_relation"))
            edf = df.select(*sel)
        else:
            join_keys = [DOC_ID] + self._shared_pos_cols(se.frame, te.frame)
            sdf, tdf = se.frame.df, te.frame.df
            if DOC_ID not in sdf.columns or DOC_ID not in tdf.columns:
                # doc-id-free resources (flat + natural identity, no
                # doc_key) only support SAME-ROW edges; a TransformStep
                # between the two endpoint extracts rebinds the frame, so
                # there is no row identity to join on — fail with the fix
                # (a doc_key) instead of an unresolved-column
                # AnalysisException deep in the plan (review finding)
                raise ValueError(
                    f"edge {link.source}->{link.target}: endpoints were "
                    "extracted from different frames of a resource with "
                    "no document id; set ResourceConfig.doc_key (or keep "
                    "both extracts on one frame) so the endpoints can be "
                    "matched by row")
            if se.filter_cond is not None:
                sdf = sdf.filter(se.filter_cond)
            if te.filter_cond is not None:
                tdf = tdf.filter(te.filter_cond)
            if star:
                # emitter pinned to the first location of the minimal frame
                for p in se.frame.pos_cols:
                    sdf = sdf.filter(F.col(p) == 0)
                if se.frame is te.frame:
                    first = None
                    for p in te.frame.pos_cols:
                        c = F.col(p) == 0
                        first = c if first is None else (first & c)
                    if first is not None:
                        tdf = tdf.filter(~first)
                    else:
                        return None  # single root location: no star partner
                join_keys = [DOC_ID]
            elif combo:
                join_keys = [DOC_ID]

            s_sel = [F.col(k) for k in join_keys]
            s_sel += [src_exprs[f].alias(f"_src_{f}") for f in src_fields]
            t_sel = [F.col(k) for k in join_keys]
            t_sel += [tgt_exprs[f].alias(f"_dst_{f}") for f in tgt_fields]
            if combo:
                s_sel += [F.col(p).alias(f"__sp_{p}") for p in se.frame.pos_cols]
                t_sel += [F.col(p).alias(f"__tp_{p}") for p in te.frame.pos_cols]
            s_weights, t_weights = [], []
            for w in weights:
                if w in te.field_exprs:
                    t_sel.append(te.field_exprs[w].alias(f"__tw_{w}"))
                    t_weights.append(w)
                elif w in se.field_exprs:
                    s_sel.append(se.field_exprs[w].alias(f"__sw_{w}"))
                    s_weights.append(w)
                elif w in te.frame.df.columns:
                    t_sel.append(F.col(w).alias(f"__tw_{w}"))
                    t_weights.append(w)
                elif w in se.frame.df.columns:
                    s_sel.append(F.col(w).alias(f"__sw_{w}"))
                    s_weights.append(w)
            rel_on_target = relation_col is not None and (
                link.relation_field is None
                or link.relation_field in te.frame.df.columns
            )
            if relation_col is not None:
                if rel_on_target:
                    t_sel.append(relation_col.alias("_relation"))
                else:
                    s_sel.append(relation_col.alias("_relation"))

            left = sdf.select(*s_sel)
            right = tdf.select(*t_sel)
            joined = left.join(right, join_keys)
            if combo:
                # unordered pairs: strict lexicographic order on the position
                # tuple (the reference's combinations(2) over items)
                lt = None
                eq = None
                for p in se.frame.pos_cols:
                    sp, tp = F.col(f"__sp_{p}"), F.col(f"__tp_{p}")
                    step_lt = (sp < tp) if eq is None else (eq & (sp < tp))
                    lt = step_lt if lt is None else (lt | step_lt)
                    eq = (sp == tp) if eq is None else (eq & (sp == tp))
                joined = joined.filter(lt)
            sel = [F.col(f"_src_{f}") for f in src_fields]
            sel += [F.col(f"_dst_{f}") for f in tgt_fields]
            for w in weights:
                if w in t_weights:
                    sel.append(F.col(f"__tw_{w}").alias(w))
                elif w in s_weights:
                    sel.append(F.col(f"__sw_{w}").alias(w))
            if relation_col is not None:
                sel.append(F.col("_relation"))
            edf = joined.select(*sel)

        # endpoints must carry at least one non-null match field (reference
        # filter_nonindexed, edge_render.py:102-111)
        src_ok = None
        for f in src_fields:
            c = F.col(f"_src_{f}").isNotNull()
            src_ok = c if src_ok is None else (src_ok | c)
        tgt_ok = None
        for f in tgt_fields:
            c = F.col(f"_dst_{f}").isNotNull()
            tgt_ok = c if tgt_ok is None else (tgt_ok | c)
        if src_ok is not None:
            edf = edf.filter(src_ok)
        if tgt_ok is not None:
            edf = edf.filter(tgt_ok)
        return edf

    def _relation_expr(
        self, se: VertexExtract, te: VertexExtract, link: EdgeLink, same_frame: bool
    ) -> Column | None:
        if link.relation_field is not None:
            col = F.col(link.relation_field)
            if link.relation_map:
                expr = None
                for k, v in link.relation_map.items():
                    w = F.when(col == F.lit(k), F.lit(v))
                    expr = w if expr is None else expr.when(col == F.lit(k), F.lit(v))
                col = expr.otherwise(col)
            return col
        if link.relation_from_key:
            # relation = last descend key of the deeper endpoint
            # (reference _extract_relation_from_key, edge_render.py:231-244)
            s_path, t_path = se.frame.path, te.frame.path
            if len(s_path) <= len(t_path) and t_path:
                rel = t_path[-1]
            elif s_path:
                rel = s_path[-1]
            else:
                return None
            return F.lit(str(rel).replace("-", "_"))
        return None

    @staticmethod
    def _shared_pos_cols(a: Frame, b: Frame) -> list[str]:
        shared = []
        for (ka, pa), (kb, pb) in zip(a.pos_path, b.pos_path):
            if ka != kb:
                break
            if pa is not None and pa == pb:
                shared.append(pa)
        return shared

    # -------------------------------------------------------------- outputs
    def _build_vertices(self) -> dict[str, DataFrame]:
        by_name: dict[str, list[VertexExtract]] = {}
        for e in self.extracts:
            if not e.lookup_only:
                by_name.setdefault(e.name, []).append(e)

        out: dict[str, DataFrame] = {}
        for name, extracts in by_name.items():
            v = extracts[0].vertex
            # document-order marker for last-non-null fragment merge: a struct
            # (doc_id, pos_level_0, pos_level_1, ...) compared lexicographically
            # — each nesting level is its own field, so (1,0) never collides
            # with (0,1) and no explode size can bleed into the next doc's
            # range (an arithmetic doc_id*2^20+sum(pos) encoding had both
            # defects). Padded to the group max arity so unionByName agrees.
            max_pos = max((len(e.frame.pos_cols) for e in extracts), default=0)
            parts = []
            for e in extracts:
                df = e.frame.df
                if e.filter_cond is not None:
                    df = df.filter(e.filter_cond)
                sel = [c.alias(f) for f, c in e.field_exprs.items()]
                if DOC_ID in df.columns:
                    head = F.col(DOC_ID).cast("long")
                    levels = [F.col(p).cast("long") for p in e.frame.pos_cols]
                else:
                    # doc-id-free resource: break merge ties on content — a
                    # deterministic hash keeps the merge stable across runs
                    # and partition layouts without blocking pushdown
                    head = F.xxhash64(*[c.cast("string") for c in e.field_exprs.values()])
                    levels = []
                levels += [F.lit(0).cast("long")] * (max_pos - len(levels))
                order = F.struct(
                    head.alias("d"),
                    *[lvl.alias(f"p{i}") for i, lvl in enumerate(levels)],
                )
                sel.append(order.alias("__ord"))
                parts.append(df.select(*sel))
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p, allowMissingColumns=True)

            identity = [f for f in v.identity_fields if f in u.columns]
            if identity:
                # drop docs whose identity is entirely null
                # (reference hq/db_writer.py:206-238)
                cond = None
                for f in identity:
                    c = F.col(f).isNotNull()
                    cond = c if cond is None else (cond | c)
                u = u.filter(cond)
                value_cols = [c for c in u.columns if c not in identity + ["__ord"]]
                if value_cols:
                    # merge_doc_basis (graph_types/merge.py:30-158): fragments
                    # sharing identity merge, last non-null in document order
                    # wins — max_by ignores rows where the ordering is null
                    aggs = [
                        F.max_by(
                            F.col(c),
                            F.when(F.col(c).isNotNull(), F.col("__ord")),
                        ).alias(c)
                        for c in value_cols
                    ]
                    u = u.groupBy(*identity).agg(*aggs)
                else:
                    u = u.select(*identity).dropDuplicates()
            else:
                u = u.drop("__ord").dropDuplicates()
            ordered = [f for f in ([*v.field_names, Vertex.HASH_KEY]) if f in u.columns]
            out[name] = u.select(*ordered)
        return out

    @staticmethod
    def _union_dedup(dfs: list[DataFrame]) -> DataFrame:
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d, allowMissingColumns=True)
        return u.dropDuplicates()


def compile_resource(
    schema: CoreSchema, resource: ResourceConfig, df: DataFrame,
    checkpointer: Checkpointer | None = None,
) -> GraphBatch:
    return ResourceCompiler(schema, resource).compile(df, checkpointer)


def add_vertex_weights(
    edge_df: DataFrame,
    weight_df: DataFrame,
    on: dict[str, str],
    fields: list[str],
    prefix: str,
    broadcast_weights: bool = True,
) -> DataFrame:
    """Vertex-derived edge weights: copy ``fields`` from a third vertex type
    onto edge docs, columns named ``{prefix}@{field}`` (reference
    ``vertex_weights`` / ``Weight.cfield`` prefixing, edge_render.py:417-482,
    graph_types/index_config.py:45-60).

    ``on`` maps edge columns -> weight-vertex columns. The weight vertex is a
    dimension table; broadcast by default so a 100 TB edge set never
    shuffles (disable for a large weight side and let AQE pick the join).
    """
    sel = [F.col(c).alias(f"__wk_{i}") for i, c in enumerate(on.values())]
    sel += [F.col(f).alias(f"{prefix}@{f}") for f in fields]
    w = weight_df.select(*sel).dropDuplicates([f"__wk_{i}" for i in range(len(on))])
    if broadcast_weights:
        w = F.broadcast(w)
    cond = None
    for i, ec in enumerate(on.keys()):
        c = edge_df[ec] == w[f"__wk_{i}"]
        cond = c if cond is None else (cond & c)
    return edge_df.join(w, cond, "left").drop(
        *[f"__wk_{i}" for i in range(len(on))]
    )
