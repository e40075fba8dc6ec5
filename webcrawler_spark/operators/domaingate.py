"""Domain blacklist / whitelist admission gate.

The reference names the capability without implementing it:
`/root/reference/README.md:212` ("domain blacklists/whitelists and max
content size limits" under future enhancements). The regex URL filters (T4,
`functions.accepted_by_filters`) can EXPRESS a blacklist, but an operator a
crawl operator actually maintains is a *list of domains*, not a regex — it
is edited independently of the crawl config, can grow to millions of
entries (spam/abuse feeds), and must key on the REGISTRABLE domain so that
`evil.example.com` and `www.evil.example.com` fall together
(`functions.registrable_domain`, the same keying the politeness budgets
use).

Semantics (documented order, matching how operators reason about lists):

1. blacklist first — a blacklisted registrable domain is skipped with
   ``SKIPPED_DOMAIN_BLACKLISTED`` even when it is also whitelisted (the
   blacklist is the abuse kill-switch; it must win).
2. whitelist second — when a whitelist is configured, any domain NOT on it
   is skipped with ``SKIPPED_DOMAIN_NOT_WHITELISTED`` (allowlist-only
   crawls: vertical search, sanctioned-domain corpora).
3. both off → every row is admitted (status NULL).

Scale: a list is a dimension relation, never frontier-sized. Two physical
strategies, chosen by input type:

- a Python sequence (operator-config-sized, ≤ a few thousand entries)
  compiles to a literal ``isin`` — pure whole-stage-codegen predicate on
  the frontier scan, zero joins, zero shuffle;
- a DataFrame (feed-sized, millions of rows) becomes a **broadcast** left
  join on ``reg_domain`` — the frontier never shuffles; the list ships to
  executors once. At a 10^10-URL frontier this is the only shape that
  works: the gate's cost is one hash probe per row against a
  broadcast-resident set.

Statuses mirror the SKIPPED_ROBOTS / SKIPPED_CONTENT_TYPE convention
(reference CrawlStatus.java:10-11): skipped rows are tagged, not dropped,
so lineage can account for every frontier row.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webcrawler_spark.functions import registrable_domain

SKIPPED_BLACKLISTED = "SKIPPED_DOMAIN_BLACKLISTED"
SKIPPED_NOT_WHITELISTED = "SKIPPED_DOMAIN_NOT_WHITELISTED"

DomainList = Union[Sequence[str], DataFrame]

# above this many literal entries an isin stops being a sane codegen
# predicate; callers should hand a DataFrame instead (broadcast join path)
_ISIN_MAX = 10_000


def _norm_seq(domains: Sequence[str]) -> list:
    return sorted({d.strip().lower() for d in domains if d and d.strip()})


def _membership(reg: Column, domains: Optional[DomainList], df: DataFrame,
                flag_name: str) -> Tuple[DataFrame, Optional[Column]]:
    """Attach a boolean membership column for ``domains`` to ``df``.

    Sequence → literal isin (codegen, no join). DataFrame → broadcast left
    join on its first column, flag = matched. Returns (df, flag_col) with
    flag None when the list is absent/empty.
    """
    if domains is None:
        return df, None
    if isinstance(domains, DataFrame):
        key = domains.columns[0]
        dim = (
            domains.select(F.lower(F.trim(F.col(key))).alias("_gate_domain"))
            .where(F.col("_gate_domain") != "")
            .distinct()
            .withColumn(flag_name, F.lit(True))
        )
        out = df.join(
            F.broadcast(dim), on=reg == F.col("_gate_domain"), how="left"
        ).drop("_gate_domain")
        return out, F.coalesce(F.col(flag_name), F.lit(False))
    vals = _norm_seq(domains)
    if not vals:
        # a CONFIGURED-but-empty list: no domain is a member. For a
        # whitelist that means admit nobody — consistent with an empty
        # list DataFrame (0 broadcast rows -> every membership False).
        return df, F.lit(False)
    if len(vals) > _ISIN_MAX:
        raise ValueError(
            f"{len(vals)} literal domains exceeds _ISIN_MAX={_ISIN_MAX}; "
            "pass a DataFrame so the gate uses a broadcast join"
        )
    return df, reg.isin(vals)


def tag_domains(
    frontier: DataFrame,
    blacklist: Optional[DomainList] = None,
    whitelist: Optional[DomainList] = None,
    host_col: str = "host",
    status_col: str = "domain_gate_status",
) -> DataFrame:
    """Tag every frontier row with its domain-gate outcome.

    Adds ``reg_domain`` (the registrable domain of ``host_col``) and
    ``status_col`` (NULL = admitted, else one of the SKIPPED_* statuses).
    With both lists off the input gains only the two columns (status all
    NULL) so callers composing pipelines need no special case.
    """
    reg = registrable_domain(F.lower(F.col(host_col)))
    df = frontier.withColumn("reg_domain", reg)
    df, in_black = _membership(F.col("reg_domain"), blacklist, df, "_in_black")
    df, in_white = _membership(F.col("reg_domain"), whitelist, df, "_in_white")
    status = F.lit(None).cast("string")
    if whitelist is not None and in_white is not None:
        status = F.when(~in_white, F.lit(SKIPPED_NOT_WHITELISTED)).otherwise(status)
    if in_black is not None:
        status = F.when(in_black, F.lit(SKIPPED_BLACKLISTED)).otherwise(status)
    out = df.withColumn(status_col, status)
    for aux in ("_in_black", "_in_white"):
        if aux in out.columns:
            out = out.drop(aux)
    return out
