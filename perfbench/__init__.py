"""Fresh-path benchmark of the registry statements (see README.md)."""
