"""Physical-layout conventions (the engine's write-path policies)."""

from .manifest import CommitConflict, ManifestTable, SchemaMismatch  # noqa: F401
