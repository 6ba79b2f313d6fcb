"""The trusted user-function chain of the single-table connection.

Module-level functions so Spark's Python workers import them by name
(the benchmark puts the checkout root on PYTHONPATH). Both leave
messageId and timestamp alone, so the warehouse keys stay predictable.
"""

from __future__ import annotations

PLAN_TIERS = {"free": 0, "pro": 1, "team": 2}


def tag_customer(ev, ctx):
    """Copy the plan tier and a coarse geo bucket into the event context."""
    traits = ev.get("traits") or {}
    c = ev.setdefault("context", {})
    c["planTier"] = PLAN_TIERS.get(traits.get("planName"), -1)
    ip = c.get("ip") or ""
    c["ipBucket"] = ip.rsplit(".", 1)[0] if ip else None
    return ev


def price_cents(ev, ctx):
    """Add integer cents next to a track event's decimal price."""
    props = ev.get("properties")
    if isinstance(props, dict) and "price" in props:
        props["priceCents"] = int(round(props["price"] * 100))
        props["lineTotalCents"] = props["priceCents"] * props.get("quantity", 1)
    return ev


CHAIN = [tag_customer, price_cents]
