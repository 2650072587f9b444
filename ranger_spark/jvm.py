"""Py4J handles of JVM classes, resolved once per gateway.

``spark._jvm.org.apache.hadoop.fs.Path`` costs one Py4J round trip per
dotted level: the gateway is asked whether each prefix is a package or a
class, and every package level ends in a failed class lookup across the
whole classpath. A :class:`JavaClass` built from its fully qualified name
needs no round trip, and each static member looked up through
:func:`jclass` is remembered, so the second call of
``jclass(spark, fqn).member`` sends only the call itself.

This is the one module that names JVM classes for the package
(``tests/test_round_lint.py`` keeps package walks out of the others).
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from py4j.java_gateway import JavaClass

# gateway client → {fully qualified name: _Class}; weak-keyed, so a
# stopped session's handles go with its gateway
_CLASSES: WeakKeyDictionary = WeakKeyDictionary()


class _Class:
    """A JVM class: calling it constructs an instance; its static methods
    and static final fields are looked up once, on first use."""

    def __init__(self, fqn: str, client):
        self._cls = JavaClass(fqn, client)

    def __call__(self, *args):
        return self._cls(*args)

    def __getattr__(self, name: str):
        member = getattr(self._cls, name)
        setattr(self, name, member)  # later lookups skip __getattr__
        return member


def jclass(spark, fqn: str) -> _Class:
    """The handle of JVM class ``fqn`` on ``spark``'s gateway."""
    client = spark._jvm._gateway_client  # noqa: SLF001
    per_gateway = _CLASSES.setdefault(client, {})
    cls = per_gateway.get(fqn)
    if cls is None:
        cls = per_gateway[fqn] = _Class(fqn, client)
    return cls
