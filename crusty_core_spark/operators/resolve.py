"""DNS-resolution stage: hosts dim-table join + reserved-IP blacklist.

The reference resolves each task's host before fetching
(main/src/task_processor.rs:117-126) through a pluggable Resolver
(main/src/resolver.rs:16-18; trust-dns impl :54-111, static impl :113-119)
and drops addresses inside 17 reserved IPv4 / 20 IPv6 subnets plus
user-configured nets (resolver.rs:72-106,147-196; config.rs:249,285-291).
Resolution fails when every address is filtered out. Only the reserved
IPv4 list is applied here: no configuration carries extra nets.

Spark mapping (SURVEY.md §2.1/§2.2): DNS is a broadcast join against a
``hosts(host, addrs)`` dimension table; the blacklist is a vectorized
predicate over the resolved addresses. Tasks that fail resolution get
``action='error:ResolveError'`` and never reach the fetch join — same
ordering as the reference (resolve precedes fetch).

The reserved-subnet list mirrors the publicly documented IANA special-use
IPv4 registry entries the reference uses.
"""

from __future__ import annotations

import ipaddress

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: (network, mask) integer ranges for reserved IPv4 space
#: (IANA special-use registry; matches resolver.rs:147-176 semantics)
RESERVED_V4 = [
    "0.0.0.0/8", "10.0.0.0/8", "100.64.0.0/10", "127.0.0.0/8",
    "169.254.0.0/16", "172.16.0.0/12", "192.0.0.0/24", "192.0.2.0/24",
    "192.88.99.0/24", "192.168.0.0/16", "198.18.0.0/15", "198.51.100.0/24",
    "203.0.113.0/24", "224.0.0.0/4", "240.0.0.0/4", "255.255.255.255/32",
    "192.31.196.0/24",
]

_NETS = [ipaddress.ip_network(n) for n in RESERVED_V4]


def ip_blacklisted(addr: str) -> bool:
    try:
        ip = ipaddress.ip_address(addr)
    except ValueError:
        return True
    for net in _NETS:
        if ip.version == net.version and ip in net:
            return True
    return False


def usable_addrs_udf():
    """Pandas UDF: array<string> addrs → array<string> of non-blacklisted."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def usable(addrs: pd.Series) -> pd.Series:
        out = []
        for lst in addrs.tolist():
            if lst is None:
                out.append(None)
                continue
            out.append([a for a in lst if not ip_blacklisted(a)])
        return pd.Series(out, dtype=object)

    return usable


#: per-python-worker resolver caches, keyed by resolver identity then host.
#: A worker process survives across tasks and iterations, so a host is
#: resolved once per (worker, crawl) — the Spark analogue of the reference
#: resolver's in-process DNS cache (trust-dns caching resolver,
#: main/src/resolver.rs:54-111).
_RESOLVER_CACHE: dict = {}


def resolve_failed_flags(hosts, resolver, cache: dict) -> list[bool]:
    """Per-row ``resolve_failed`` through a point ``resolver``: each host
    (lowered, trimmed) not yet in ``cache`` is resolved once and cached as
    has-usable-address. Resolution fails when the resolver raises, returns
    nothing, or every address is in a reserved subnet. Both
    crawl paths fill their resolver cache through here."""
    norm = [str(h or "").strip().lower() for h in hosts]
    for h in set(norm) - cache.keys():
        try:
            addrs = resolver(h)
        except Exception:
            addrs = None
        cache[h] = bool(addrs) and any(
            not ip_blacklisted(a) for a in addrs
        )
    return [not cache[h] for h in norm]


def resolver_stage(
    ready: DataFrame,
    resolver,
    host_col: str = "host",
    cache_key: str | None = None,
) -> DataFrame:
    """Adds ``resolve_failed`` via a pluggable point resolver — the
    vectorized twin of the reference's Resolver trait
    (main/src/resolver.rs:16-18): ``resolver(host) -> list[str]`` of
    addresses (raise / return empty on NXDOMAIN). Runs as an Arrow-batched
    ``mapInPandas`` stage: each executor batch resolves only the hosts it
    hasn't seen before (per-worker cache above), then applies the
    reserved-subnet blacklist — resolution fails when every address is
    filtered out, exactly the dim-table join's semantics. The resolver must
    be cloudpickle-able; a deployment resolver would wrap a real DNS client.

    ``cache_key``: stable identity for the per-worker cache (the engine
    passes one token per engine instance). Without it the key is derived
    from the pickled resolver bytes; if the resolver doesn't pickle, a fresh
    uuid is used — losing cross-call caching but never sharing stale results
    between two different resolvers in one long-lived worker (ADVICE r3).
    """
    import hashlib
    import pickle
    import uuid

    from pyspark.sql import types as T2

    if cache_key is not None:
        base = str(cache_key)
    else:
        try:
            base = hashlib.md5(pickle.dumps(resolver)).hexdigest()
        except Exception:
            base = uuid.uuid4().hex
    schema = T2.StructType(
        list(ready.schema.fields)
        + [T2.StructField("resolve_failed", T2.BooleanType())]
    )
    cols = [f.name for f in schema.fields]

    def batches(it):
        cache = _RESOLVER_CACHE.setdefault(base, {})
        for pdf in it:
            pdf["resolve_failed"] = resolve_failed_flags(
                pdf[host_col], resolver, cache
            )
            yield pdf[cols]

    return ready.mapInPandas(batches, schema=schema)


def resolve_ready(
    ready: DataFrame,
    hosts: DataFrame | None,
    host_col: str = "host",
    resolver=None,
    resolver_cache_key: str | None = None,
) -> DataFrame:
    """Adds ``resolve_failed`` to the ready set.

    hosts: (host, addrs array<string>) dim table, broadcast. No hosts table:
    a registered point ``resolver`` runs as the vectorized resolver_stage;
    with neither, resolution is assumed external (the pages-join universe IS
    the network in the sandbox) and nothing fails. Unknown host or
    all-addresses-blacklisted → resolve_failed (reference: resolver error →
    task error)."""
    if hosts is None:
        if resolver is not None:
            return resolver_stage(ready, resolver, host_col,
                                  cache_key=resolver_cache_key)
        return ready.withColumn("resolve_failed", F.lit(False))
    usable = usable_addrs_udf()
    h = F.broadcast(
        hosts.select(
            F.lower(F.trim(F.col("host"))).alias(host_col),
            usable(F.col("addrs")).alias("_usable"),
        )
    )
    return (
        ready.join(h, on=host_col, how="left")
        .withColumn(
            "resolve_failed",
            F.col("_usable").isNull() | (F.size("_usable") == 0),
        )
        .drop("_usable")
    )
