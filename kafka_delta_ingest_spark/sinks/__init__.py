"""Destination-table sinks; the shared contract is in :mod:`.base`."""
